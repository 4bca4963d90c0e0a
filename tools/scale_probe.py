"""sf-scaling probe (VERDICT r5 task 5): run the heaviest headline
queries at sf0.1 AND at the derived 10x scale-up
(tools/make_scaled_sf.py -> benchdata/sf1) and record the time ratio
per query in bench_scaling.json (merged into bench_full.json by
bench.py). A ratio >> 10 on 10x data exposes a superlinear plan the
sf0.1 bench cannot see — the apss candidate-volume caveat, LSH band
skew, any accidental quadratic.

Ratios are wall-clock min-of-2 after one warm run, same protocol as
bench.py. Run: python tools/scale_probe.py

WORK counts (VERDICT r7 task 2): wall-time ratios alone cannot
distinguish "the plan scales" from "the synthetic corpus degenerated"
(the derived replicas are deliberately decorrelated, so candidate
volume need not grow 10x). For the three candidate-generating
pipelines (apss_cosine prefix-filter pairs, minhash_candidates LSH
pairs, semdedup within-cell pairs) the probe counts the ACTUAL
candidate sets at every scale and records them next to the seconds —
a flat time ratio is then interpretable against the measured work
ratio.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from eclipse_spark.session import EngineConfig, get_spark  # noqa: E402

# the heaviest queries from BENCH r05/r06 plus every near-dup / ANN /
# graph pipeline whose cost model could hide superlinearity
PROBE = [
    "apss_cosine",
    "minhash_estimate",
    "minhash_candidates",
    "lsh_s_curve",
    "semdedup",
    "ann_pq",
    "pq_encode",
    "label_propagation",
    "clustering_coeff",
    "pagerank",
    "triangle_count",
    "data_profile",
    "incremental_dedup",
    "bpe_encode",
    # round-6 additions worth probing: overlapping-window dedup
    # (token-count-linear explode), star CC (crossJoin audit corpus +
    # O(log n) rounds), int8 compressed-scan search
    "substring_dedup",
    "cc_star",
    "ann_int8",
    # round-8 additions: the exact Jaccard tier (same candidate-volume
    # cost model as apss_cosine), bloom pruning (should be flat — one
    # scan + a literal filter + a key shuffle of survivors), and the
    # mergeable HLL rollup (sketch-sized shuffles)
    "apss_jaccard",
    "bloom_prune_join",
    "hll_rollup",
    # round-9 additions (VERDICT r8 task 1): the bounded-state KMV
    # overlap sketch (must be scan-linear — k longs per group cap the
    # shuffle) and the staged-rewrite compaction (read + write of the
    # table, nothing quadratic to hide)
    "kmv_overlap",
    "storage_compact",
    # round-9 additions' probe rows (VERDICT r9 task 4): five are
    # bounded-sketch / O(files) by construction — the row PROVES it —
    # and media_dhash is the one with a genuine asymptotic risk (16-bit
    # band keys saturate as n^2/2^16; candidate volume counted below)
    "cms_token_freq",
    "cms_join_size",
    "kmv_set_ops",
    "quantile_rollup",
    "skew_audit",
    "storage_branch",
    "media_dhash",
    # round-10 additions: the wide/composed dHash escape hatch (must
    # stay collision-sparse where the narrow path saturates), the
    # bucketed-explode interval join (candidates = bucket-cohabiting
    # pairs, counted below), and the CMS maintenance path (sketch-sized
    # work by construction)
    "media_dhash_wide",
    "interval_join",
    "cms_refresh",
    # the multimodal flagship composition (decode + gate + wide-dHash
    # dedup + accounting — measured sf0.1 4.9 s -> sf1 23.6 s cold on
    # first landing, ~5x on 10x data; the row keeps it honest)
    "media_curation_pipeline",
    # the TEXT flagship composition gets the same standing row
    # (VERDICT r10 task 2: "every operator family has scale evidence"
    # covers the composed pipelines too)
    "curation_pipeline",
    # round-11 additions, same-round scale evidence: the streaming
    # MinHash bucket rollup (per-row HOF signature — interpreted, so
    # the row proves the 10x wall stays ~linear in docs; state is one
    # row per distinct band bucket) and the storage+cache lineage
    # audit (a fixed number of version snapshots + counts — O(data)
    # scans, nothing quadratic to hide)
    "stream_near_dedup",
    "lineage_audit",
    # the audio member of the banded near-dup family: same guarded
    # banded self-join as media_dhash (identical asymptotic risk — 4 x
    # 16-bit band keys saturate as n^2/2^16), so it gets the same
    # candidate-volume work counter
    "media_audio_fingerprint",
    # the AUDIO flagship composition (decode -> rms quality gate ->
    # fingerprint dedup -> per-bucket accounting): every stage linear
    # in clips except the guarded banded join above
    "media_audio_pipeline",
    # the VIDEO near-dup path (per-frame dHash + temporal alignment):
    # probed with an EXPLICIT raised budget because the derived
    # corpus' aligned-candidate volume is quadratic per decade
    # (704k -> 70.2M measured) and crosses the 20M default inside the
    # first decade — the registry query keeps the default budget and
    # correctly refuses at sf1; this row measures the wall when a
    # caller who knows the volume opts in
    "media_video_near_dup_raised",
    # NOTE: a "sample every 2nd frame" lever row was measured and
    # deliberately NOT added: it cuts the sf1 aligned volume only
    # 70.2M -> 40.7M (still over the 20M default) because the DENSE
    # frame classes (0 and 2 — present in every video) dominate;
    # class-dropping is a LINEAR lever for aligned joins. The
    # quadratic levers are per-class key width (wide/composed keys,
    # measured end-to-end on the image rows) — see SCALE.md.
    # round-12 additions: the shared-semcache cross-modality curation
    # run (linear stages + the guarded banded joins over the survivor
    # subset), the streaming audio bucket rollup (state bounded by the
    # 4 x 2^16 keyspace), and the shift-robust video join probed with
    # an explicit raised budget (the offset explode multiplies the
    # aligned volume ~10x — ordered-pair accounting — so the registry
    # query's default budget refuses from sf1 up BY DESIGN)
    "cross_modal_curation",
    "stream_audio_dedup",
    "stream_video_dedup",
    "media_video_shifted_raised",
    "media_audio_shifted_raised",
    # the incremental (new x ref) media refresh join — cross-set
    # volume counted below; completes under the default budget in the
    # first decade (the join is a subset product of the self-join the
    # media_dhash row already guards)
    "media_incremental_dedup",
    # round-13 addition: the incremental CROSS-MODALITY refresh (the
    # daily-batch composition — shared gate + three new x ref index
    # joins, all guarded; linear stages otherwise)
    "cross_modal_incremental",
    # round-13 addition: the stored-index media refresh (index build is
    # scan-linear; the refresh join is the same guarded cross-set
    # product media_incremental_dedup counts — same work counter)
    "media_index_refresh",
    # round-13 addition: the stream-static face of the stored-index
    # refresh (static side read per micro-batch, state = near pairs
    # only; same cross-set work counter)
    "stream_media_refresh",
    # round-13 addition: the embedding tier of the incremental family —
    # cell-partitioned new x ref SemDeDup (cross pair count audited;
    # counter below), exact tier + the GEMM kernel tier
    "semantic_incremental_dedup",
    "semantic_incremental_scaled",
    # round-14 addition: the search-side incremental — stored IVF index
    # build + O(batch) centroid-assignment append + all-cell probe
    # (assignment is batch x n_cells broadcast work; the probe scores
    # n_queries x merged-corpus pairs at n_probe = n_cells — both
    # linear per decade; counter below) — and its streaming face
    # (foreachBatch appends over a finite drain; same work, plus
    # micro-batch machinery)
    "ann_ivf_refresh",
    "ann_ivf_refresh_stream",
]

# Probe-only fn overrides (rows that are not registry queries:
# explicit-budget escape hatches, kernel-tier variants)
PROBE_FN_OVERRIDES = {}

# Iterative peel/fixpoint kernels (VERDICT r8 task 1): probed with ONE
# COLD run per scale — warm+min-of-2 would triple a minutes-long sf1
# peel, and cold-vs-cold is the like-for-like protocol the deep tier
# already uses for clustering_coeff (warm-vs-cold conflated cache state
# with scaling there, r8 lesson).
PROBE_COLD = [
    "kcore",
    "ktruss",
    "coreness",
]



from pyspark.sql import functions as F  # noqa: E402


def _apss_docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.expr(
                "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
            ).alias("toks"),
        )
    )


def _apss_cand_count(spark, sf_dir) -> int:
    from eclipse_spark.operators.similarity import allpairs_cosine_candidates

    return allpairs_cosine_candidates(
        _apss_docs(spark, sf_dir), "doc_id", "toks", 81
    ).count()


def _minhash_cand_count(spark, sf_dir) -> int:
    import __spark_entry__ as em

    return em.queries()["minhash_candidates"](spark, sf_dir).count()


def _semdedup_allv_cents(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
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
    return allv, cents


def _semdedup_pair_count(spark, sf_dir) -> int:
    """Within-cell pair count under q_semdedup's pinned 8 centroids —
    the quantity the max_pairs guard audits, counted per scale so the
    guarded sf10 refusal is backed by the measured pair curve."""
    from pyspark.sql import Window

    from eclipse_spark.operators.similarity import cosine_sim

    allv, cents = _semdedup_allv_cents(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("_sim"), F.asc("cell"))
    assigned = (
        allv.crossJoin(F.broadcast(cents.select(
            "cell", F.col("centroid").cast("array<double>").alias("_c"))))
        .withColumn("_sim", cosine_sim(F.col("embedding"), F.col("_c")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
    )
    row = (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("_n"))
        .agg(F.sum(
            (F.col("_n").cast("decimal(38,0)") * (F.col("_n") - 1)) / 2
        ).alias("_p"))
        .collect()[0]
    )
    return int(row["_p"] or 0)


def _semdedup_scaled_probe(spark, sf_dir):
    """Auto-scaled SemDeDup completion row (VERDICT r7 task 4): the
    Arrow/numpy kernel tier with cells scaled to the corpus
    (target 512), on the same planted corpus — the configuration that
    must COMPLETE at sf10 where the pinned-k exact tier correctly
    refuses."""
    from eclipse_spark.operators.dedup import semantic_dedup_scaled

    allv, _ = _semdedup_allv_cents(spark, sf_dir)
    return semantic_dedup_scaled(
        allv, threshold=0.95, target_cell_size=512, n_iter=1
    )


def _apss_jaccard_cand_count(spark, sf_dir) -> int:
    """PPJoin prefix-filter candidate count at t=0.8 — the work metric
    behind apss_jaccard's wall curve (the jaccard prefix bound is
    LINEAR in t vs cosine's t², so its candidate volume is the thing
    to watch as dictionaries saturate)."""
    from eclipse_spark.operators.similarity import _apss_candidate_pairs

    toks, cand = _apss_candidate_pairs(
        _apss_docs(spark, sf_dir), "doc_id", "toks", 80
    )
    n = cand.count()
    toks.unpersist()
    return n


def _ktruss_tri_count(spark, sf_dir) -> int:
    """Total triangle count of the co-order graph q_ktruss peels — the
    round-0 support work that dominates the delta-peel kernel."""
    from eclipse_spark.operators import graph

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 8 == 0), "l_orderkey", "l_partkey"
    )
    row = graph.triangle_count(edges).collect()[0]
    return int(row["n_triangles"] or 0)


def _dhash_corpus(spark, sf_dir):
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.select(F.col("doc_id").alias("id"))
    bmps = mm.encode_textured_bmp(ids, id_col="id")
    planted = bmps.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    return bmps.unionByName(planted)


def _dhash_cand_count(spark, sf_dir) -> int:
    """Banded self-join candidate volume of q_media_dhash (4 x 16-bit
    single-band keys) — the quantity the max_pairs guard audits; grows
    as ~4 n^2 / 2^16 once the corpus saturates the band keyspace
    (VERDICT r9 weak mark: this row is the measured proof)."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands(_dhash_corpus(spark, sf_dir))
    return mm.dhash_candidate_volume(hs, n_bands=4, composed=False)


def _dhash_wide_cand_count(spark, sf_dir) -> int:
    """Candidate volume of q_media_dhash_wide's composed 32-bit pair
    keys over the 128-bit hash — the escape hatch that must stay
    collision-sparse where the narrow path saturates."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands_wide(_dhash_corpus(spark, sf_dir))
    return mm.dhash_candidate_volume(hs, n_bands=8, composed=True)


def _dhash_wide_raised_probe(spark, sf_dir):
    """The composed wide-dHash ESCAPE HATCH run to completion
    (VERDICT r10 task 3): same corpus as q_media_dhash_wide but with
    an EXPLICIT raised budget (1e9 > the measured 685.5M sf10
    candidate volume — structural shared-band mass of the periodic
    synthetic corpus, not chance collisions). The default-budget row
    records the designed refusal; this row records the measured WALL
    when a caller who knows the volume opts in."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands_wide(_dhash_corpus(spark, sf_dir))
    return mm.dhash_near_pairs(
        hs, max_hamming=3, n_bands=8, composed=True,
        max_pairs=1_000_000_000,
    )


def _audio_fp_corpus(spark, sf_dir):
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.select(F.col("doc_id").alias("id"))
    wavs = mm.encode_tone_wav(ids, id_col="id")
    planted = wavs.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    return wavs.unionByName(planted)


def _audio_fp_cand_count(spark, sf_dir) -> int:
    """Banded self-join candidate volume of q_media_audio_fingerprint
    (4 x 16-bit single-band keys over the energy-envelope fingerprint)
    — the same pre-join audit quantity the image dHash rows track,
    with the same ~4 n^2 / 2^16 saturation risk."""
    from eclipse_spark.operators import multimodal as mm

    fp = mm.audio_fingerprint_bands(_audio_fp_corpus(spark, sf_dir))
    return mm.dhash_candidate_volume(fp, n_bands=4, composed=False)


def _audio_fp_raised_probe(spark, sf_dir):
    """The audio fingerprint ESCAPE HATCH run to completion — the
    audio analogue of :func:`_dhash_wide_raised_probe`: same corpus as
    q_media_audio_fingerprint but with an EXPLICIT raised budget
    (2e9 > the measured 1.63e9 sf10 candidate volume). The
    default-budget row records the designed refusal at 550k clips;
    this row records the measured WALL when a caller who knows the
    volume opts in."""
    from eclipse_spark.operators import multimodal as mm

    fp = mm.audio_fingerprint_bands(_audio_fp_corpus(spark, sf_dir))
    return mm.dhash_near_pairs(
        fp, max_hamming=3, max_pairs=2_000_000_000
    )


def _video_corpus(spark, sf_dir):
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.select(F.col("doc_id").alias("id"))
    full = mm.encode_textured_video(ids)
    planted = full.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    trunc_src = ids.filter(F.col("id") % 20 == 0).select(
        "id", (F.lit(2) + F.col("id") % 5).cast("int").alias("nf")
    )
    trunc = mm.encode_textured_video(trunc_src, frames_col="nf").select(
        (F.col("id") + 200000).alias("id"), "bytes"
    )
    return full.unionByName(planted).unionByName(trunc)


def _video_cand_count(spark, sf_dir) -> int:
    """Aligned-frame candidate volume of the video near-dup banded
    join — the audited quantity; (frame_idx, band, key) bucketing
    delays saturation ~frame_count-fold vs the still path but the
    derived corpus still grows it ~100x per decade."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.video_dhash_bands(_video_corpus(spark, sf_dir))
    return mm.video_candidate_volume(hs)


def _video_raised_probe(spark, sf_dir):
    """q_media_video_near_dup with an EXPLICIT raised budget (1e9 >
    the measured 70.2M sf1 volume) so the first-decade wall is a
    completion, while the registry query's default 20M budget records
    the designed refusal at that scale."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.video_dhash_bands(_video_corpus(spark, sf_dir))
    return mm.video_near_pairs(
        hs, max_hamming=3, min_frames=2, max_pairs=1_000_000_000
    )


PROBE_FN_OVERRIDES["media_video_near_dup_raised"] = _video_raised_probe


def _video_sampled_hashes(spark, sf_dir):
    from eclipse_spark.operators import multimodal as mm

    hs = mm.video_dhash_bands(_video_corpus(spark, sf_dir))
    return hs.filter(F.col("frame_idx") % 2 == 0)


def _video_sampled_cand_count(spark, sf_dir) -> int:
    from eclipse_spark.operators import multimodal as mm

    return mm.video_candidate_volume(_video_sampled_hashes(spark, sf_dir))


def _video_sampled_probe(spark, sf_dir):
    """Every-2nd-frame sampling before the banded join (planted
    copies still share >= 2 even-indexed frames, so min_frames=2
    recall holds). MEASURED at sf1: volume falls only 70.2M -> 40.7M
    — still over the 20M default — because the dense frame classes
    dominate; kept out of PROBE for that reason (see the PROBE list
    note) but retained with its counter so the finding stays
    reproducible."""
    from eclipse_spark.operators import multimodal as mm

    return mm.video_near_pairs(
        _video_sampled_hashes(spark, sf_dir), max_hamming=3, min_frames=2
    )


PROBE_FN_OVERRIDES["media_video_near_dup_sampled"] = _video_sampled_probe


def _video_shifted_hashes(spark, sf_dir):
    """The q_media_video_shifted corpus: full + exact plants (+100000)
    + head-trimmed re-cuts (every 20th, first frame removed,
    +300000)."""
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.select(F.col("doc_id").alias("id"))
    full = mm.encode_textured_video(ids)
    planted = full.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    trimmed = mm.trim_video_head(
        full.filter(F.col("id") % 20 == 0), n=1
    ).select((F.col("id") + 300000).alias("id"), "bytes")
    return mm.video_dhash_bands(
        full.unionByName(planted).unionByName(trimmed)
    )


def _video_shifted_cand_count(spark, sf_dir) -> int:
    """Exact scheduled-join row count of the shift-enumerated banded
    join (ordered pairs incl. self-matches — the join's actual input
    volume, ~10x the strict aligned pair count: x(2*max_shift+1)
    offsets x2 orders)."""
    from eclipse_spark.operators import multimodal as mm

    return mm.video_shifted_candidate_volume(
        _video_shifted_hashes(spark, sf_dir), 4, 2
    )


def _video_shifted_raised_probe(spark, sf_dir):
    """q_media_video_shifted with an EXPLICIT raised budget so the
    first-decade wall is a completion; the registry query keeps the
    default 20M budget and correctly refuses at sf1 (the shifted
    volume crosses it an order earlier than the strict path)."""
    from eclipse_spark.operators import multimodal as mm

    return mm.video_near_pairs_shifted(
        _video_shifted_hashes(spark, sf_dir),
        max_hamming=3,
        min_frames=2,
        max_shift=2,
        max_pairs=2_000_000_000,
    )


PROBE_FN_OVERRIDES["media_video_shifted_raised"] = _video_shifted_raised_probe


def _audio_shifted_hashes(spark, sf_dir):
    """The q_media_audio_shifted corpus: long tone clips + exact
    plants (+100000) + head-trimmed re-takes (every 20th, first 128
    samples removed, +300000), windowed into (id, window_idx, bands)
    rows."""
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.select(F.col("doc_id").alias("id"))
    wavs = mm.encode_tone_wav(ids, base_samples=2080, mod=509)
    planted = wavs.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    trimmed = mm.trim_wav_head(
        wavs.filter(F.col("id") % 20 == 0), n_samples=128
    ).select((F.col("id") + 300000).alias("id"), "bytes")
    return mm.audio_window_bands(
        wavs.unionByName(planted).unionByName(trimmed)
    )


def _audio_shifted_cand_count(spark, sf_dir) -> int:
    from eclipse_spark.operators import multimodal as mm

    return mm.video_shifted_candidate_volume(
        _audio_shifted_hashes(spark, sf_dir), 4, 2
    )


def _audio_shifted_raised_probe(spark, sf_dir):
    """q_media_audio_shifted with an explicit raised budget (the
    media_video_shifted_raised discipline) so the first decade is a
    completion while the registry query's default budget documents
    the refusal point."""
    from eclipse_spark.operators import multimodal as mm

    return mm.video_near_pairs_shifted(
        _audio_shifted_hashes(spark, sf_dir),
        max_hamming=3,
        min_frames=2,
        max_shift=2,
        max_pairs=2_000_000_000,
    )


PROBE_FN_OVERRIDES["media_audio_shifted_raised"] = _audio_shifted_raised_probe


def _xmodal_raised_probe(spark, sf_dir):
    """q_cross_modal_curation with an explicit raised budget so the
    second decade is a completion; the registry query keeps the
    default 20M budget and correctly refuses at sf10 (measured
    1.02e9 within-survivor image candidates)."""
    import __spark_entry__ as entrymod

    return entrymod.q_cross_modal_curation(
        spark, sf_dir, max_pairs=4_000_000_000
    )


PROBE_FN_OVERRIDES["cross_modal_curation_raised"] = _xmodal_raised_probe


def _media_incr_cand_count(spark, sf_dir) -> int:
    """Cross-set candidate volume of the incremental media refresh
    join (new x ref bucket products — no self/ordering terms)."""
    from eclipse_spark.operators import multimodal as mm

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select(F.col("doc_id").alias("id"))
    ref = mm.encode_textured_bmp(docs.filter(F.col("id") % 4 != 0))
    new = mm.encode_textured_bmp(
        docs.filter(F.col("id") % 4 == 0)
    ).unionByName(
        ref.filter(F.col("id") % 8 == 1).select(
            (F.col("id") + 100000).alias("id"), "bytes"
        )
    )
    return mm.dhash_cross_candidate_volume(
        mm.dhash_bands(new), mm.dhash_bands(ref)
    )

def _xinc_cand_count(spark, sf_dir) -> int:
    """Total guarded-join candidate volume of the incremental
    cross-modality refresh: image + audio new x ref bucket products
    over the GATED corpora (the query's exact plant scheme)."""
    from eclipse_spark.operators import multimodal as mm

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.length("text") >= 240)
        .select(F.col("doc_id").alias("id"))
    )
    ref_ids = docs.filter(F.col("id") % 4 != 0)
    new_ids = docs.filter(F.col("id") % 4 == 0)

    def cross(enc, bands):
        ref = enc(ref_ids)
        new = enc(new_ids).unionByName(
            ref.filter(F.col("id") % 8 == 1).select(
                (F.col("id") + 200000).alias("id"), "bytes"
            )
        )
        return mm.dhash_cross_candidate_volume(bands(new), bands(ref))

    return cross(mm.encode_textured_bmp, mm.dhash_bands) + cross(
        mm.encode_tone_wav, mm.audio_fingerprint_bands
    )


def _xsem_cand_count(spark, sf_dir) -> int:
    """Within-cell new x ref pair count of the incremental SemDeDup
    (the query's exact corpora: new = %4==0 + x1.1 plants of ref
    %8==1, ref = %4!=0, cells = nearest of the 8 fixed centroids)."""
    from pyspark.sql import Window

    from eclipse_spark.operators.similarity import cosine_sim

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ref = e.filter(F.col("vec_id") % 4 != 0)
    new = e.filter(F.col("vec_id") % 4 == 0).unionByName(
        ref.filter(F.col("vec_id") % 8 == 1).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("v", lambda x: x * F.lit(1.1)).alias("v"),
        )
    )
    cts = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("_cell"), F.col("v").alias("_c")
    )

    def cells(df):
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("_sim"), F.asc("_cell")
        )
        return (
            df.crossJoin(F.broadcast(cts))
            .withColumn("_sim", cosine_sim(F.col("v"), F.col("_c")))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .groupBy("_cell")
            .agg(F.count("*").alias("n"))
        )

    nn, nr = cells(new).alias("a"), cells(ref).alias("b")
    row = (
        nn.join(nr, on="_cell")
        .agg(
            F.coalesce(F.sum(F.col("a.n") * F.col("b.n")), F.lit(0))
            .cast("long")
            .alias("vol")
        )
        .collect()[0]
    )
    return int(row["vol"])


def _xmodal_within_cand_count(spark, sf_dir) -> int:
    """Total within-survivor banded volume of the cross-modality
    curation run (image + audio survivor corpora incl. plants) — the
    work the raised hatch executes."""
    from eclipse_spark.operators import multimodal as mm

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.length("text") >= 240)
        .select(F.col("doc_id").alias("id"))
    )

    def within(enc, bands):
        base = enc(docs)
        corpus = base.unionByName(
            base.filter(F.col("id") % 10 == 0).select(
                (F.col("id") + 100000).alias("id"), "bytes"
            )
        )
        return mm.dhash_candidate_volume(bands(corpus), 4, False)

    return within(mm.encode_textured_bmp, mm.dhash_bands) + within(
        mm.encode_tone_wav, mm.audio_fingerprint_bands
    )


# sf10 rows recorded as measured refusal volumes only (see the deep
# loop): the video join at sf10 would shuffle ~7e9 aligned-frame
# candidates — larger than local disk — so no budget is "acceptable"
# single-node and the honest row is the audited number itself.
DEEP_VOLUME_ONLY = {"media_video_near_dup": _video_cand_count}


def _interval_cand_count(spark, sf_dir) -> int:
    """Bucket-cohabiting pair count of q_interval_join BEFORE the
    overlap filter — the join's real shuffle volume (sum over
    (type, bucket) of n_spans * n_windows)."""
    import __spark_entry__ as em

    ev = em._events(spark, sf_dir)
    base = ev.select(
        "event_id", "event_type", F.col("ts").cast("long").alias("_t")
    )
    wins = base.filter(F.col("event_id") % 97 == 0).select(
        "event_type",
        F.col("_t").alias("s"),
        (F.col("_t") + (F.col("event_id") % 11 + 1) * 3600).alias("e"),
    )
    spans = base.select(
        "event_type",
        F.col("_t").alias("s"),
        (F.col("_t") + (F.col("event_id") % 5 + 1) * 600).alias("e"),
    )

    def bkts(df):
        return df.select(
            "event_type",
            F.explode(
                F.sequence(F.floor(F.col("s") / 3600), F.floor(F.col("e") / 3600))
            ).alias("_bkt"),
        ).groupBy("event_type", "_bkt").agg(F.count("*").alias("n"))

    a, b = bkts(spans), bkts(wins).withColumnRenamed("n", "m")
    row = (
        a.join(b, ["event_type", "_bkt"])
        .agg(F.coalesce(F.sum(F.col("n") * F.col("m")), F.lit(0)).alias("c"))
        .collect()[0]
    )
    return int(row["c"])


def _clustering_tri_count(spark, sf_dir) -> int:
    """Triangle count of q_clustering_coeff's even-orderkey co-order
    graph — the closed-wedge work behind its wall curve (added r10:
    its sf10 single-run ratio has swung 3.81 ↔ 5.92 across sessions
    with an unchanged plan; the work counter is what makes those
    swings attributable to host state rather than plan shape)."""
    from eclipse_spark.operators import graph

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_orderkey", "l_partkey"
    )
    row = graph.triangle_count(edges).collect()[0]
    return int(row["n_triangles"] or 0)


def _kcore_dec_count(spark, sf_dir) -> int:
    """Total delta-degree decrement mass of q_kcore's peel (VERDICT r9
    task 3 evidence: the per-round work that replaced the full degree
    re-aggregate) — collected from the same stats the kernel reports."""
    from eclipse_spark.operators import graph

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 8 == 0), "l_orderkey", "l_partkey"
    )
    stats: dict = {}
    graph.k_core(edges, k=10, stats_out=stats).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(stats.get("decrement_rows_total", 0))


def _ivf_refresh_work_count(spark, sf_dir) -> int:
    """Deterministic work behind the ann_ivf_refresh wall: the
    registry query's dominant term is the all-cell probe's exact
    scoring volume (n_queries x merged corpus, minus self-pairs); the
    refresh append itself is batch x n_cells assignment work — both
    counted so the decade ratio reads against measured work."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    n_q = emb.filter(F.col("vec_id") < 5).count()
    n_new = emb.filter(F.col("vec_id") % 4 == 0).count()
    return n_q * (n - 1) + n_new * 16


WORK_COUNTS = {
    "apss_cosine": _apss_cand_count,
    "minhash_candidates": _minhash_cand_count,
    "semdedup": _semdedup_pair_count,
    "apss_jaccard": _apss_jaccard_cand_count,
    "ktruss": _ktruss_tri_count,
    "media_dhash": _dhash_cand_count,
    "media_audio_fingerprint": _audio_fp_cand_count,
    "media_audio_fingerprint_raised": _audio_fp_cand_count,
    "media_video_near_dup_raised": _video_cand_count,
    "media_video_near_dup_sampled": _video_sampled_cand_count,
    "media_dhash_wide": _dhash_wide_cand_count,
    "media_dhash_wide_raised": _dhash_wide_cand_count,
    "interval_join": _interval_cand_count,
    "kcore": _kcore_dec_count,
    "clustering_coeff": _clustering_tri_count,
    "media_video_shifted_raised": _video_shifted_cand_count,
    "media_audio_shifted_raised": _audio_shifted_cand_count,
    "media_incremental_dedup": _media_incr_cand_count,
    "cross_modal_incremental": _xinc_cand_count,
    "cross_modal_curation_raised": _xmodal_within_cand_count,
    "media_index_refresh": _media_incr_cand_count,
    "stream_media_refresh": _media_incr_cand_count,
    "semantic_incremental_dedup": _xsem_cand_count,
    "semantic_incremental_scaled": _xsem_cand_count,
    "ann_ivf_refresh": _ivf_refresh_work_count,
    "ann_ivf_refresh_stream": _ivf_refresh_work_count,
}

DEEP_VOLUME_ONLY["media_video_shifted"] = _video_shifted_cand_count
DEEP_VOLUME_ONLY["media_audio_shifted"] = _audio_shifted_cand_count


def _time(fn, spark, sf_dir) -> float:
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _time_strict(fn, spark, sf_dir) -> float:
    """Like _time but PROPAGATES query errors (the 100x tier wants to
    see a budget guard trip, not swallow it)."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    small = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    big = os.path.join(REPO, "benchdata", "sf1")
    if not os.path.exists(os.path.join(big, "lineitem.parquet")):
        raise SystemExit("run tools/make_scaled_sf.py first")
    spark = get_spark(EngineConfig(app_name="eclipse_spark_scale_probe"))
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    out: dict[str, dict] = {}
    for name in PROBE:
        fn = PROBE_FN_OVERRIDES.get(name) or queries[name]
        t_small = _time(fn, spark, small)
        spark.catalog.clearCache()
        t_big = _time(fn, spark, big)
        spark.catalog.clearCache()
        ratio = t_big / t_small if t_small > 0 else float("inf")
        out[name] = {
            "sf0.1_sec": round(t_small, 3),
            "sf1_sec": round(t_big, 3),
            "ratio": round(ratio, 2),
        }
        if name in WORK_COUNTS:
            wc = WORK_COUNTS[name]
            n_small, n_big = wc(spark, small), wc(spark, big)
            spark.catalog.clearCache()
            out[name]["n_candidates_sf0.1"] = n_small
            out[name]["n_candidates_sf1"] = n_big
            out[name]["work_ratio"] = round(
                n_big / n_small if n_small else float("inf"), 2
            )
        print(f"{name}: {t_small:.2f}s -> {t_big:.2f}s  ratio {ratio:.1f}x"
              + (f"  work {out[name]['work_ratio']}x"
                 if "work_ratio" in out[name] else ""),
              flush=True)
    # iterative peel kernels: ONE cold run per scale (see PROBE_COLD)
    for name in PROBE_COLD:
        fn = PROBE_FN_OVERRIDES.get(name) or queries[name]
        t0 = time.perf_counter()
        fn(spark, small).write.format("noop").mode("overwrite").save()
        t_small = time.perf_counter() - t0
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, big).write.format("noop").mode("overwrite").save()
        t_big = time.perf_counter() - t0
        spark.catalog.clearCache()
        ratio = t_big / t_small if t_small > 0 else float("inf")
        out[name] = {
            "sf0.1_sec": round(t_small, 3),
            "sf1_sec": round(t_big, 3),
            "ratio": round(ratio, 2),
            "runs": 1,
        }
        if name in WORK_COUNTS:
            wc = WORK_COUNTS[name]
            n_small, n_big = wc(spark, small), wc(spark, big)
            spark.catalog.clearCache()
            out[name]["n_candidates_sf0.1"] = n_small
            out[name]["n_candidates_sf1"] = n_big
            out[name]["work_ratio"] = round(
                n_big / n_small if n_small else float("inf"), 2
            )
        print(f"[cold] {name}: {t_small:.2f}s -> {t_big:.2f}s  "
              f"ratio {ratio:.1f}x"
              + (f"  work {out[name]['work_ratio']}x"
                 if "work_ratio" in out[name] else ""),
              flush=True)
    # semdedup's probe query pins k=8 centroids, so its cost is
    # quadratic in CELL SIZE by design — the operator now enforces this
    # contract with the max_pairs guard (raises at the sf10 tier below)
    # and the production path scales k with the corpus (kmeans).
    if "semdedup" in out:
        out["semdedup"]["note"] = (
            "pinned k=8 centroids -> quadratic in cell size by design; "
            "guarded by semantic_dedup max_pairs (trips at the 100x "
            "tier); production scales n_cells with the corpus"
        )
    # MERGE with the standing artifact: rows this run does not produce
    # (probe_one incremental rows, the executed frame-class slice rows,
    # manual volume-only rows) survive; fresh same-key rows win. The
    # ratio headlines describe THIS run's fresh rows only.
    prior: dict = {}
    prior_path = os.path.join(REPO, "bench_scaling.json")
    if os.path.exists(prior_path):
        with open(prior_path) as fh:
            prior = json.load(fh)
    payload = {
        "data_ratio": 10,
        "note": "sf1 is the derived 10x replication of sf0.1 "
                "(tools/make_scaled_sf.py); ratio ~<= 10 + shuffle "
                "log-factors = linear-ish plan, >> 10 = superlinear",
        "queries": {**prior.get("queries", {}), **out},
        "max_ratio": max(v["ratio"] for v in out.values()),
        "max_ratio_excl_guarded": max(
            v["ratio"] for k, v in out.items() if k != "semdedup"
        ),
    }
    # 100x tier (VERDICT r6 task 5): the two steepest 10x ratios get a
    # second decade — sf1 -> sf10 (documents/embeddings only) — to see
    # whether their curves bend superlinear at the next 10x
    big10 = os.path.join(REPO, "benchdata", "sf10")
    if os.path.exists(os.path.join(big10, "documents.parquet")):
        deep = {}
        # clustering_coeff joined the deep tier as the steepest
        # unguarded 10x ratio (VERDICT r7 task 3); it needs the sf10
        # lineitem derivative and, at ~100x the sf0.1 co-order graph,
        # gets a single timed run (no warm) to keep the probe bounded.
        # semdedup_scaled is the auto-scaled kernel-tier completion row
        # (task 4): it must FINISH at the scale the pinned-k exact tier
        # correctly refuses.
        # apss_jaccard joined the deep tier in round 9: its first
        # decade (8.36) was the steepest unguarded curve — the second
        # decade + candidate counts decide linear vs saturating
        deep_names = ["apss_cosine", "semdedup", "semdedup_scaled",
                      "apss_jaccard"]
        # the dHash near-dup pair joined the deep tier in round 10:
        # the narrow 4x16-bit path's candidate volume grows ~n^2/2^16
        # past 65k images (VERDICT r9 weak mark) while the wide
        # composed-key path cuts the CHANCE term to n^2/2^32 — sf10's
        # 550k images are the regime where STRUCTURAL shared-band mass
        # (a corpus property) dominates and both default budgets trip
        # by design. media_dhash_wide_raised (round 11) is the same
        # composed path with an explicit 1e9 budget: the escape hatch
        # run to a measured completion wall.
        deep_names += ["media_dhash", "media_dhash_wide",
                       "media_dhash_wide_raised"]
        # the audio fingerprint shares the narrow path's 4 x 16-bit
        # keyspace, so its sf10 row records the same saturation story
        # (guard trip + measured pair curve) the image rows do;
        # media_audio_fingerprint_raised is the explicit-budget escape
        # hatch run to a measured completion wall (the
        # media_dhash_wide_raised discipline)
        deep_names += ["media_audio_fingerprint",
                       "media_audio_fingerprint_raised"]
        if os.path.exists(os.path.join(big10, "lineitem.parquet")):
            # the iterative peel kernels get their second decade too;
            # their sf1 number is already a COLD single run (PROBE_COLD
            # tier), so it is reused as the like-for-like baseline
            deep_names += ["clustering_coeff", "ktruss", "kcore",
                           "coreness"]
        # round-12 ops get standing second decades: the streaming
        # dedups and the incremental media refresh (whose sf10 is a
        # DESIGNED guard trip recorded with the measured cross-set
        # count by the except branch below); cross_modal's sf10 is
        # likewise a designed guard trip (survivor-subset banded join
        # saturates the narrow keyspace)
        deep_names += ["stream_audio_dedup", "stream_video_dedup",
                       "media_incremental_dedup",
                       "cross_modal_curation"]
        # round-13: the composition's explicit-budget escape hatch
        # (executes the whole three-modality run at sf10 — the
        # media_dhash_wide_raised discipline) and the incremental
        # cross-modality refresh (sf10 expected to guard-trip with
        # the measured cross-set count)
        deep_names += ["cross_modal_curation_raised",
                       "cross_modal_incremental"]
        single_run = {"clustering_coeff", "apss_jaccard", "ktruss",
                      "kcore", "coreness", "media_dhash",
                      "media_dhash_wide", "media_dhash_wide_raised",
                      "media_audio_fingerprint",
                      "media_audio_fingerprint_raised"}
        # clustering_coeff's sf10 wall swung 3.81 <-> 5.92 across
        # sessions with exactly-10x work — it gets min-of-2 at sf10
        # (VERDICT r10 task 6), cold-ish (clearCache between runs)
        runs2_sf10 = {"clustering_coeff"}
        for name in deep_names:
            if name == "semdedup_scaled":
                fn = _semdedup_scaled_probe
            elif name == "media_dhash_wide_raised":
                fn = _dhash_wide_raised_probe
            elif name == "media_audio_fingerprint_raised":
                fn = _audio_fp_raised_probe
            else:
                fn = PROBE_FN_OVERRIDES.get(name) or queries[name]
            if name in single_run:
                # single-run deep queries compare COLD sf1 vs COLD
                # sf10 — the min-of-2-warm sf1 number conflates cache
                # state (and any size-triggered plan-shape flip, e.g.
                # broadcast -> partitioned adjacency join) with scaling.
                # PROBE_COLD kernels already measured a cold sf1 run
                # this session — reuse it instead of paying it twice.
                if name in out and out[name].get("runs") == 1:
                    t1 = out[name]["sf1_sec"]
                elif name in runs2_sf10:
                    # like-for-like with the sf10 min-of-2-cold below
                    walls = []
                    for _ in range(2):
                        t0 = time.perf_counter()
                        fn(spark, big).write.format("noop").mode(
                            "overwrite").save()
                        walls.append(time.perf_counter() - t0)
                        spark.catalog.clearCache()
                    t1 = min(walls)
                else:
                    t0 = time.perf_counter()
                    fn(spark, big).write.format("noop").mode(
                        "overwrite").save()
                    t1 = time.perf_counter() - t0
            elif name == "semdedup_scaled":
                t1 = _time(fn, spark, big)
            elif name in out:
                t1 = out[name]["sf1_sec"]
            else:
                t1 = _time(fn, spark, big)
            spark.catalog.clearCache()
            try:
                if name in runs2_sf10:
                    walls = []
                    for _ in range(2):
                        t0 = time.perf_counter()
                        fn(spark, big10).write.format("noop").mode(
                            "overwrite").save()
                        walls.append(time.perf_counter() - t0)
                        spark.catalog.clearCache()
                    t10 = min(walls)
                elif name in single_run:
                    t0 = time.perf_counter()
                    fn(spark, big10).write.format("noop").mode(
                        "overwrite").save()
                    t10 = time.perf_counter() - t0
                else:
                    t10 = _time_strict(fn, spark, big10)
            except Exception as exc:
                # a candidate-budget guard tripping IS the designed
                # outcome for a plan that would go superlinear here
                # (semantic_dedup max_pairs): record it, loudly
                deep[name] = {
                    "sf1_sec": round(t1, 3),
                    "sf10_sec": None,
                    "guarded": str(exc)[:300],
                }
                if name in WORK_COUNTS:
                    # back the refusal with the measured pair curve
                    deep[name]["n_candidates_sf10"] = WORK_COUNTS[name](
                        spark, big10
                    )
                print(f"[100x] {name}: GUARDED — {str(exc)[:120]}",
                      flush=True)
                spark.catalog.clearCache()
                continue
            spark.catalog.clearCache()
            deep[name] = {
                "sf1_sec": round(t1, 3),
                "sf10_sec": round(t10, 3),
                "ratio": round(t10 / t1 if t1 > 0 else float("inf"), 2),
            }
            if name in runs2_sf10:
                deep[name]["runs"] = 2
            elif name in single_run:
                deep[name]["runs"] = 1
            if name in WORK_COUNTS:
                n10 = WORK_COUNTS[name](spark, big10)
                spark.catalog.clearCache()
                deep[name]["n_candidates_sf10"] = n10
                base = out.get(name, {}).get("n_candidates_sf1")
                if base:
                    deep[name]["work_ratio"] = round(n10 / base, 2)
            print(f"[100x] {name}: {t1:.2f}s -> {t10:.2f}s  "
                  f"ratio {deep[name]['ratio']:.1f}x", flush=True)
        # VOLUME-ONLY sf10 rows: paths whose guard refuses at sf1
        # already (so the deep loop's t1 would raise) and whose full
        # raised-budget join is deliberately not scheduled single-node.
        # The row records the measured refusal volume — the number a
        # 1000-executor cluster operator sizes the job against — and
        # since round 12 the video family also carries a MEASURED
        # per-candidate cost: tools/video_slice_probe.py executed two
        # frame-class slices of the aligned join at sf10 (the
        # media_video_near_dup_sliced row: 890M candidates / 41.6 s,
        # ~49 ns/candidate), so the sizing story is volume x measured
        # rate, not extrapolation alone.
        for name, counter in DEEP_VOLUME_ONLY.items():
            n10 = counter(spark, big10)
            spark.catalog.clearCache()
            deep[name] = {
                "sf10_sec": None,
                "guarded": "volume-only row: the default budget "
                           "refuses from sf1 up and the full raised "
                           "join is deliberately not scheduled "
                           "single-node; per-candidate cost measured "
                           "on executed frame-class slices (the "
                           "_sliced row) — see SCALE.md for the "
                           "cluster-scale levers",
                "n_candidates_sf10": n10,
            }
            print(f"[100x] {name}: VOLUME-ONLY {n10:,}", flush=True)
        payload["sf10"] = {
            "data_ratio": 10,
            "note": "second decade sf1 -> sf10 for the steepest 10x "
                    "ratios; a ratio near or below the first decade's "
                    "means the curve is NOT bending superlinear",
            "queries": {
                **prior.get("sf10", {}).get("queries", {}),
                **deep,
            },
        }
    with open(os.path.join(REPO, "bench_scaling.json"), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({"max_ratio": payload["max_ratio"]}))
    spark.stop()


if __name__ == "__main__":
    main()
