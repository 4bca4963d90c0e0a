"""Deduplication operators (north-star): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design: every variant is shuffle-bounded —

- exact: hash the normalized text first so the distinct shuffle moves
  (hash, id), never full documents;
- MinHash-LSH: documents never pairwise-compare globally; candidate
  pairs only form inside an LSH band bucket (self-join on the band
  hash), the classic sub-quadratic near-dup pipeline;
- SimHash: 64-bit signature via bit-vote aggregation, candidates from
  multi-table disjoint-band buckets with a hamming verify;
- verification (Jaccard / cosine) happens only on candidate pairs.

Built-ins end-to-end: shingling, hashing, min-reduction, band hashing
are all codegen'd SQL expressions (higher-order functions), no Python
in any per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eclipse_spark.operators.text import shingles, word_shingles


def _norm_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


# -- exact ------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized-text
    group. Shuffles (hash, id) pairs only; the winning ids then
    semi-join back to fetch full rows — at 100 TB the wide document
    payload moves at most once."""
    hashed = df.select(
        F.col(id_col), F.xxhash64(_norm_text(F.col(text_col))).alias("_h")
    )
    winners = hashed.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate clusters: (hash, n_dups, member ids) for groups
    with >1 member — the audit view of exact_dedup."""
    hashed = df.select(
        F.col(id_col), F.xxhash64(_norm_text(F.col(text_col))).alias("h")
    )
    return (
        hashed.groupBy("h")
        .agg(
            F.count("*").alias("n_dups"),
            F.array_join(F.sort_array(F.collect_list(F.col(id_col).cast("string"))), ",").alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


# -- MinHash ----------------------------------------------------------


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature table via the codegen path:
    explode shingles -> project num_hashes seeded hash columns ->
    groupBy(id).min(...). Spark's higher-order functions run
    interpreted, so a HOF running-min is ~10x slower than this
    explode+partial-agg formulation; the map-side combine collapses
    the exploded rows back to one row per doc before the shuffle.

    ``portable=True`` swaps the xxhash64 family for the md5-derived
    60-bit family (functions.scalar.portable_seeded_hashes): ONE md5
    per shingle + pure bit algebra, so an external SQL oracle can
    recompute the signature table exactly. Default stays xxhash64
    (fastest JVM path)."""
    from eclipse_spark.util import ensure_parallelism

    from eclipse_spark.operators.text import tokens, word_shingles_raw

    tokenized = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    exploded = tokenized.select(
        "id",
        F.explode(F.array_distinct(word_shingles_raw(F.col("_toks"), shingle_k))).alias("s"),
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60, portable_seeded_hashes

        md5d = exploded.select("id", F.md5("s").alias("_mh")).select(
            "id",
            portable_hash60(F.col("_mh"), 0).alias("_v"),
            portable_hash60(F.col("_mh"), 1).alias("_u"),
        )
        fam = portable_seeded_hashes(F.col("_v"), F.col("_u"), num_hashes)
        hashed = md5d.select("id", *[h.alias(f"h{i}") for i, h in enumerate(fam)])
    else:
        hashed = exploded.select(
            "id", *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
        )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def _minhash_banded(
    sig: DataFrame, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """(id, band, bh) band-bucket rows of a signature table — the ONE
    place band hashing is defined (self-dedup and cross-corpus dedup
    must bucket identically or their candidate sets silently
    diverge)."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> Column:
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            from eclipse_spark.functions.scalar import portable_hash60

            return portable_hash60(F.md5(F.concat_ws("|", *cols)), 0)
        return F.xxhash64(*cols)

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    portable: bool = False,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: signature split into
    ``bands`` bands of ``num_hashes/bands`` rows; docs sharing any
    band hash become a candidate pair (id_a < id_b). The self-join is
    on the (band, band_hash) key — sub-quadratic, shuffle keyed by
    bucket, never all-pairs. ``portable=True`` uses the md5-derived
    hash family end-to-end (band hash included) so an external SQL
    oracle reproduces the exact candidate set."""
    # ``sig``: optionally share a precomputed signature table (r14 —
    # Spark does not CSE identical aggregation subtrees across a
    # query, so a caller composing candidates + estimates otherwise
    # pays the explode + md5-per-shingle pass once per reference;
    # checkpoint it caller-side and both consumers read it)
    if sig is None:
        sig = minhash_signatures_df(
            df, text_col, id_col, num_hashes, shingle_k, portable
        )
    banded = _minhash_banded(sig, num_hashes, bands, portable)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_bucket_rollup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """STREAMING-compatible MinHash LSH bucket rollup — the near-dedup
    front end re-expressed so it runs under Structured Streaming's
    one-aggregation constraint: ``(band, bh, rep_id, n_docs)`` where
    docs sharing a band bucket are near-dup CANDIDATE groups and
    ``rep_id = min(id)`` is the greedy representative.

    :func:`minhash_signatures_df`'s explode → seeded-hash columns →
    ``groupBy(id).min`` formulation is the batch fast path, but on a
    stream that per-doc aggregation would already consume the single
    aggregation a streaming query gets, leaving none for the bucket
    rollup. Here the signature is a PER-ROW projection instead — one
    md5 per shingle hoisted into a bound array column (``_vu``; the
    lambda-inline trap re-digests per hash function otherwise), then
    ``h_i = array_min(transform(_vu, x -> v XOR rot60(u, i)))`` — so
    the whole pipeline is stateless maps until the ONE stateful
    ``groupBy(band, bh)``. Hash values are bit-identical to the
    portable batch family (``portable_seeded_hashes`` /
    ``_minhash_banded`` portable=True), so batch and stream bucket
    IDENTICALLY and a SQL oracle replays the rollup exactly.

    Works unchanged on a batch DataFrame (same plan minus stream
    state). Scale shape: state is one row per DISTINCT (band, bh) —
    bounded by corpus vocabulary, not stream length; the HOF
    projection runs interpreted (~10x slower than the batch
    explode+combine per measured repo precedent), the price of
    streaming's aggregation budget, and it parallelizes per-row so
    it shards to any executor count."""
    from eclipse_spark.functions.scalar import portable_hash60, rot60
    from eclipse_spark.operators.text import tokens, word_shingles_raw

    rpb = num_hashes // bands
    if rpb * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    # Fan the slim (id, text) rows out BEFORE the per-row signature
    # projection (r14, guide §2.5 input skew / §4 slim boundary): the
    # interpreted HOF chain below is the whole pipeline's cost, and a
    # single-file micro-batch (or single-row-group batch table) feeds
    # it exactly ONE partition — measured 19-48 s at sf0.1 with every
    # core but one idle. Streaming frames cannot be introspected for
    # partition count (df.rdd is illegal on a stream), so streams
    # always repartition — only the two slim columns cross, and the
    # groupBy(band, bh) rollup is order-independent so results are
    # unchanged. Batch frames keep the no-op-at-scale guard.
    slim = df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col))
    if df.isStreaming:
        slim = slim.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else:
        from eclipse_spark.util import ensure_parallelism

        slim = ensure_parallelism(slim)
    shingled = slim.select(
        "id",
        F.array_distinct(
            word_shingles_raw(tokens(F.col(text_col)), shingle_k)
        ).alias("_sh"),
    )
    # one md5 per shingle, BOUND as a column the h_i lambdas reference
    # (inlining it would re-digest every shingle once per hash column)
    vu = shingled.withColumn(
        "_vu",
        F.transform(
            "_sh",
            lambda s: F.struct(
                portable_hash60(F.md5(s), 0).alias("v"),
                portable_hash60(F.md5(s), 1).alias("u"),
            ),
        ),
    )
    def _hmin(i: int):
        # closure factory, NOT a default-arg lambda: pyspark's
        # transform() reads lambda arity, and a second parameter —
        # even defaulted — makes it pass the element INDEX there
        return F.array_min(
            F.transform("_vu", lambda x: x["v"].bitwiseXOR(rot60(x["u"], i)))
        )

    sig = vu.select(
        "id", *[_hmin(i).alias(f"h{i}") for i in range(num_hashes)]
    )

    def band_hash(b: int):
        cols = [F.col(f"h{b * rpb + r}").cast("string") for r in range(rpb)]
        return portable_hash60(F.md5(F.concat_ws("|", *cols)), 0)

    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_hash(b).alias("bh")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    return banded.groupBy("band", "bh").agg(
        F.min("id").alias("rep_id"),
        F.count("*").cast("long").alias("n_docs"),
    )


def ngram_jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.8,
    unit: str = "word",
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard; keeps
    pairs >= threshold. Shingle sets are joined in (small candidate
    set), computed via array_intersect/array_union on distinct
    shingles. Word shingles by default — char k-grams over a small
    vocabulary make unrelated documents look near-identical (measured
    >50% false-positive dedup on the synthetic corpus).

    The corpus is semi-joined to the candidate id set BEFORE the
    shingle projection: candidate pairs are a tiny fraction of a
    100 TB corpus, and without the pre-filter the shingle arrays are
    materialized for every document only to be dropped at the join
    probe (the projection fuses into the scan stage ahead of the
    join in codegen). The candidate set is persisted LAZILY: it is
    read three times here (pair join + two semi-filters), and
    without plan-level reuse each read would replay the entire
    upstream LSH pipeline — the plan audit caught exactly that
    (26-42 shuffle plans from subtree recomputation). ``persist()``
    (InMemoryRelation) rather than ``localCheckpoint``: construction
    stays lazy (no job runs until the caller acts) and the cached
    blocks keep their lineage, so an executor loss at 100 TB scale
    recomputes the lost partitions instead of failing the query —
    the tradeoff a checkpoint would invert."""
    mk = word_shingles if unit == "word" else shingles
    candidates = candidates.persist()
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = df.join(
        cand_ids.withColumnRenamed("id", id_col), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("id"),
        F.array_distinct(mk(F.col(text_col), shingle_k)).alias("sh"),
    )
    out = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """Full near-dedup: LSH candidates -> Jaccard verify -> drop the
    larger id of each verified pair (greedy union toward min id)."""
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, portable
    )
    verified = ngram_jaccard_verify(df, cands, text_col, id_col, shingle_k, threshold)
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# -- connected components (cluster dedup) ----------------------------


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 12,
) -> DataFrame:
    """(node, component) via LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the at-scale upgrade over :func:`connected_components`' plain
    min-label propagation: rounds needed drop from GRAPH DIAMETER to
    O(log n), because each large-star hop re-attaches every node
    directly to the smallest node of its neighborhood, halving path
    lengths instead of walking them. Same output contract as
    ``connected_components`` (component id = smallest node id), so the
    two are interchangeable and cross-checked in tests.

    Per round: large-star (symmetric neighbor view -> per-node min ->
    re-emit (bigger-neighbor, min)) then small-star (edges oriented
    large->small -> per-node min -> re-star), each ONE groupBy shuffle
    + one key join, localCheckpoint'd so lineage stays flat.
    Convergence detected by an O(1) checksum aggregate (count + two
    weighted endpoint sums) — no per-round data collect. High-diameter
    graphs (long chains — exactly where min-label propagation needs
    diameter rounds) converge in a handful of rounds.

    If the checksum fixpoint is NOT reached within ``max_iter`` rounds
    the operator RAISES instead of returning the partially-contracted
    intermediate (a non-converged E is not yet a star forest, so its
    labels can be inconsistent) — same "no silent partial propagation"
    contract as :func:`connected_components`. The default budget of 12
    rounds covers diameter ~ 2^11 via the halving property; raise
    ``max_iter`` for pathologically long chains."""
    E = (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    all_nodes = (
        E.select(F.col("u").alias("node"))
        .union(E.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # ---- large-star: attach every strictly-larger neighbor of u
        # to m(u) = min(N(u) + {u})
        sym = E.select("u", "v").union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # this distinct is LOAD-BEARING for volume, not just
            # hygiene (measured r14): on clique-like components every
            # node's neighbors emit the same (v, m) row once per
            # neighbor, so without the dedup the small-star join and
            # re-star explode amplify quadratically within the round
            # (cc_star 4.8 s -> 17-166 s when it was dropped)
            .distinct()
        )
        # ---- small-star: orient large->small, re-star each node onto
        # its minimum neighbor
        d = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m2 = d.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            d.join(m2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("v").alias("a"), F.col("m").alias("b")
                        ),
                        F.struct(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        ),
                    )
                ).alias("_e")
            )
            .select(
                F.greatest("_e.a", "_e.b").alias("u"),
                F.least("_e.a", "_e.b").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            # LAZY checkpoint: the convergence collect right below
            # materializes it inside the same job — one driver action
            # per round instead of two (r14, guide §1/§7: the loop is
            # job-latency-bound, every data job far under a second)
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = tuple(
            ss.agg(
                F.count("*"), F.sum("u"), F.sum("v"), F.sum(F.col("u") * 3 + F.col("v"))
            ).collect()[0]
        )
        E = ss
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no checksum fixpoint within "
            f"max_iter={max_iter} rounds — returning the partially-"
            "contracted edge set would yield inconsistent component ids; "
            "raise max_iter (rounds needed ~ log2(diameter))"
        )
    # converged E is a star forest: (child, root) with root = component
    # min; roots and isolated nodes label themselves
    mapping = E.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        all_nodes.join(mapping, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) over an undirected edge list via iterative
    min-label propagation: every node adopts the smallest label among
    itself and its neighbors until a fixpoint; the component id is the
    smallest node id in the component.

    This is the clustering step production near-dedup needs after
    pairwise verification — transitive closure (a~b, b~c => one
    cluster {a,b,c}), which no single join can express.

    Scale shape: each round is one shuffle (neighbor-min groupBy on the
    node id) + a broadcast-free join; results are localCheckpoint'd per
    round so lineage stays flat. Rounds needed = graph diameter —
    near-dup clusters from LSH buckets are shallow (a handful of
    rounds). Convergence is detected with a monotone O(1) aggregate
    (labels only ever decrease, so the label sum strictly decreases
    until the fixpoint) — no per-round data collect. If the fixpoint
    is NOT reached within ``max_iter`` rounds (diameter > max_iter,
    e.g. a 30-node chain at the default 20), the operator RAISES
    instead of silently returning partially-propagated labels (wrong
    clusters would corrupt every downstream dedup decision); for
    high-diameter graphs use :func:`connected_components_star`, which
    converges in O(log n) rounds."""
    # the symmetric edge view is localCheckpointed ONCE: without it
    # every propagation round re-executes the whole upstream edge
    # pipeline (for near-dedup that is the banded-LSH + verify plan)
    # from scratch (r14, guide §5 caching note)
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias(
                    "label"
                ),
            )
            # lazy: the convergence collect materializes it in-job
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            "rounds (graph diameter exceeds the budget); raise max_iter or "
            "use connected_components_star (O(log n) rounds)"
        )
    return labels.select("node", F.col("label").alias("component"))


def near_dedup_cc(
    df: DataFrame,
    verified_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster-level dedup: connected components over verified near-dup
    pairs, keep the min-id representative of each component plus every
    unpaired document. Unlike pairwise loser-dropping, transitive
    chains (a~b, b~c with a!~c) collapse to ONE survivor."""
    comp = connected_components(verified_pairs, max_iter=max_iter)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# -- SimHash ----------------------------------------------------------


def simhash_signature(text: Column, bits: int = 64, shingle_k: int = 5) -> Column:
    """SimHash: per-bit majority vote over shingle hashes. For each bit
    position, count shingles with that bit set; bit is 1 when count >
    n/2. Expressed with aggregate() over the shingle array — codegen,
    no UDF. 64-bit signature packed into a long."""
    sh = F.array_distinct(shingles(text, shingle_k))
    n = F.size(sh)
    # votes[i] = number of shingles whose hash has bit i set
    # (shift amounts must be literals, so the bit array is unrolled
    # Python-side — 64 fixed expressions, still one codegen'd stage)
    votes = F.aggregate(
        sh,
        F.array_repeat(F.lit(0), bits),
        lambda acc, s: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(F.xxhash64(s), i).bitwiseAND(F.lit(1)).cast("int")
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_i = (
            F.when(F.element_at(votes, i + 1) * 2 > n, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit_i, i))
    return sig


def simhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """(id, sig) SimHash table via the codegen path: explode distinct
    shingles -> one hash per shingle -> groupBy(id) with ``bits``
    bit-count sums (one flat HashAggregate, map-side combined) ->
    majority-vote assembly. The HOF formulation above runs interpreted
    per shingle per bit (~bits x #shingles lambda evals — measured
    >50x slower at sf0.1); this one hashes each shingle once and lets
    whole-stage codegen do the bit arithmetic.

    ``portable=True`` votes on the md5-derived 60-bit hash instead of
    xxhash64 (use ``bits<=60``) so an external SQL oracle reproduces
    the signature bit-for-bit; still one digest per shingle."""
    from eclipse_spark.util import ensure_parallelism

    from eclipse_spark.operators.text import norm_ws, shingles_raw

    assert not portable or bits <= 60, "portable hash carries 60 bits"
    normed = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), norm_ws(F.col(text_col)).alias("_norm")
    )
    exploded = normed.select(
        "id",
        F.explode(F.array_distinct(shingles_raw(F.col("_norm"), shingle_k))).alias("_s"),
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        hashed = exploded.select("id", portable_hash60(F.md5("_s"), 0).alias("_h"))
    else:
        hashed = exploded.select("id", F.xxhash64("_s").alias("_h"))
    votes = hashed.groupBy("id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright("_h", i).bitwiseAND(F.lit(1))).alias(f"_v{i}")
            for i in range(bits)
        ],
    )
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_i = (
            F.when(F.col(f"_v{i}") * 2 > F.col("_n"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit_i, i))
    return votes.select("id", sig.alias("sig"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tables: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs via multi-table SimHash (Manku et al.'s table
    decomposition): the 64-bit signature splits into ``tables`` disjoint
    ``band_bits``-bit bands; table *t* buckets on band *t*; candidates
    from all tables union, then a codegen ``hamming <= max_hamming``
    verify keeps real near-dups.

    Recall is *guaranteed*, not probabilistic: a pair within
    ``max_hamming <= tables - 1`` bit flips differs in at most
    ``tables - 1`` bands, so by pigeonhole at least one band matches
    exactly and the pair surfaces as a candidate (property-tested
    against exact all-pairs hamming).

    Scale shape vs the old single 12/16-bit-prefix bucket: each table's
    join key carries 16 signature bits (65k+ buckets/table), popular
    prefixes no longer concentrate into one bucket, near-dups differing
    in a high bit are caught by the other tables, and the verify bounds
    the emitted pair set. Output: (id_a, id_b, hamming).

    ``portable=True`` switches to the md5-derived 60-bit signature
    (external-oracle-reproducible); pass ``tables*band_bits <= 60``
    there (e.g. 4 tables x 15 bits — same pigeonhole guarantee for
    ``max_hamming <= 3``)."""
    bits = 60 if portable else 64
    assert tables * band_bits <= bits, "bands must fit the signature"
    sig = simhash_signatures_df(df, text_col, id_col, bits, shingle_k, portable)
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.shiftright("sig", t * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.tbl").alias("tbl"), F.col("bb.bkey").alias("bkey"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["tbl", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _hamming(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _hamming(x: Column, y: Column) -> Column:
    return F.bit_count(x.bitwiseXOR(y))


# -- embedding near-dup ----------------------------------------------


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    sign-bit sketch buckets candidates, exact cosine verifies. The
    hyperplanes are deterministic pseudo-random (hash of (plane, dim)),
    so the operator needs no model artifact and is reproducible.

    Vectors cast to double BEFORE any arithmetic (same discipline as
    semantic_dedup): float32 multiplies round differently per engine,
    while double math over exactly-promoted float32 inputs is IEEE-
    identical everywhere — so the threshold verify is engine-exact and
    the whole operator carries an external SQL oracle."""
    from eclipse_spark.operators.similarity import cosine_sim, sign_sketch_df

    pts = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    sk = sign_sketch_df(pts, id_col, vec_col, planes, seed, "id", "v")
    a, b = sk.alias("a"), sk.alias("b")
    return (
        a.join(b, on="bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_sim(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# -- benchmark decontamination ----------------------------------------


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag corpus documents that share any word n-gram with a held-out
    benchmark set — the exact-overlap decontamination gate every
    pretraining pipeline runs before training (the GPT-3/Pile 13-gram
    collision rule; n is a parameter because short synthetic docs need
    a smaller window).

    Scale shape: the benchmark side is tiny relative to the corpus
    (MBs of eval sets vs 100 TB of corpus), so its distinct n-gram set
    is BROADCAST and the corpus-side explode is filtered map-side — the
    only shuffle of corpus-derived data is the per-doc hit count, which
    carries matched grams only. Grams join on a 64-bit xxhash of the
    gram text, so the broadcast table and join keys stay fixed-width no
    matter how long the grams are (hash collisions would need ~2^32
    distinct benchmark grams to matter).

    Returns (id_col, n_hits) for contaminated documents only:
    ``n_hits`` = number of DISTINCT corpus-doc n-grams found in the
    benchmark (0-hit documents are absent; an anti-join against this
    result is the keep-list).
    """
    from eclipse_spark.operators.text import tokens, word_shingles_raw

    bgrams = (
        benchmark.select(tokens(F.col(text_col)).alias("_toks"))
        .select(F.explode(word_shingles_raw(F.col("_toks"), n)).alias("_g"))
        .select(F.xxhash64("_g").alias("_gh"))
        .distinct()
    )
    cgrams = corpus.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles_raw(F.col("_toks"), n))).alias("_g"),
    ).select(F.col(id_col), F.xxhash64("_g").alias("_gh"))
    return (
        cgrams.join(F.broadcast(bgrams), "_gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


# -- semantic dedup (SemDeDup-style) ----------------------------------


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    assign every vector to its nearest centroid (broadcast NL join —
    the centroid table is k rows), then compare pairs ONLY inside a
    cell and drop the larger id of any pair with cosine >= threshold
    (greedy min-id representative, same convention as exact_dedup).

    The cell partition is the entire scale story: pairwise comparison
    is quadratic, but only within a cell, so the worst case is
    (max cell size)^2 instead of corpus^2 — SemDeDup's observation
    that near-duplicate semantics only need within-cluster pairs. At
    100 TB the centroids come from kmeans_iterate and cells stay
    bounded by construction — and that contract is now ENFORCED, not
    assumed: the within-cell pair count is audited up front (one O(k)
    aggregate) and the operator RAISES when it exceeds ``max_pairs``
    (default 1e8) instead of silently launching a quadratic join that
    the 100x scaling probe measured bending superlinear when the
    centroid count is NOT scaled with the corpus. The fix at scale is
    more centroids (cell size ~ constant), not a bigger budget;
    ``max_pairs=None`` disables the guard for bounded oracle replicas.

    Vectors cast to double before any arithmetic (float32 HOF math is
    neither engine-portable nor precise enough for a stable argmax).

    Pair-stage cost discipline: vectors L2-normalize ONCE per vector
    (the naive per-pair cosine evaluates dot + BOTH norms per pair,
    i.e. the norm passes run quadratically often), so each pair pays
    a single zip_with dot product. A fully codegen posexplode +
    (cell, pos)-keyed join + sum(x_a*x_b) reformulation was measured
    too: with demo-sized k (8 cells) its join has only cells x dims
    distinct keys and skews WORSE than the per-pair dot (8.0 s vs
    3.8 s at sf0.1); it only wins when k is large enough to spread
    the join, which production kmeans centroids provide. Returns one
    row per input vector: (id_col, cell_col, kept) with kept=1 for
    survivors; filter kept=1 for the keep-list, kept=0 is the audit
    trail of what was dropped and from which cell.
    """
    from pyspark.sql import Window

    from eclipse_spark.operators.similarity import cosine_sim, norm

    pts = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    cts = centroids.select(
        F.col(cell_col).alias("_cell"),
        F.col(centroid_col).cast("array<double>").alias("_c"),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("_cell"))
    assigned = (
        pts.crossJoin(F.broadcast(cts))
        .withColumn("_sim", cosine_sim(F.col("_v"), F.col("_c")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("_cell", "_id", "_v")
    )
    # norm hoisted into its own projection: an expression inside a
    # transform() lambda re-evaluates per element (repo-measured ~30x
    # penalty on doc_fingerprint), so the aggregate must not live in
    # the lambda.
    if max_pairs is not None:
        # audit + pair join + final map read this 3x: persist() so the
        # re-reads hit the COLUMNAR InMemoryRelation (measured 2x the
        # whole operator vs a row-serialized localCheckpoint at sf0.1 —
        # the vectors deserialize per read otherwise; VERDICT r8 task
        # 5). The r7 leak is still fixed: the operator's RESULT is
        # materialized before return (eager localCheckpoint of the
        # small fixed-width (id, cell, kept) frame) and `assigned` is
        # unpersisted right after — no block outlives the call.
        #
        # Width pin (optimization r15, guide §2.5): with AQE applied to
        # cached-plan materialization, this cache coalesces to ~1
        # partition on small inputs, and the QUADRATIC pair stage
        # pipelines directly over the cache scan (broadcast self-join),
        # so it inherits that width and serializes (measured: 399 -> 62
        # tasks, pair jobs 34 -> 3 tasks, +28% wall). An explicit
        # numbered repartition is exempt from AQE coalescing, pinning
        # the materialized width. The pin only widens: a large input
        # keeps its own width. That width is the input's partition
        # count, which costs no job when the input is a scan; the
        # post-shuffle width would run the upstream shuffle twice
        # (measured +2 jobs, semdedup_autoscale 3.5 -> 5.2 s at sf0.1 on
        # 4 cores). The extra exchange of slim rows is noise at scale.
        target = max(2, assigned.sparkSession.sparkContext.defaultParallelism // 2)
        assigned = assigned.repartition(
            max(target, pts.rdd.getNumPartitions())
        ).persist()
        audit = (
            assigned.groupBy("_cell")
            .agg(F.count("*").alias("_n"))
            .agg(
                F.sum(
                    (F.col("_n").cast("decimal(38,0)") * (F.col("_n") - 1))
                    / 2
                ).alias("_pairs"),
                F.max("_n").alias("_maxcell"),
            )
            .collect()[0]
        )
        n_pairs = int(audit["_pairs"] or 0)
        if n_pairs > max_pairs:
            assigned.unpersist()
            raise RuntimeError(
                f"semantic_dedup: within-cell pair count {n_pairs:,} exceeds "
                f"max_pairs={max_pairs:,} (largest cell {audit['_maxcell']:,} "
                "vectors) — the centroid count is too small for this corpus; "
                "scale n_cells with the data (kmeans_iterate) so cell sizes "
                "stay bounded, or raise/disable max_pairs explicitly"
            )
    unit = assigned.withColumn("_n", norm(F.col("_v"))).select(
        "_cell",
        "_id",
        F.transform("_v", lambda x: x / F.col("_n")).alias("_u"),
    )
    a, b = unit.alias("a"), unit.alias("b")
    dropped = (
        a.join(b, "_cell")
        .filter(F.col("a._id") < F.col("b._id"))
        .withColumn(
            "_cos",
            F.aggregate(
                F.zip_with(F.col("a._u"), F.col("b._u"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("b._id").alias("_did"))
        .distinct()
    )
    out = (
        assigned.join(dropped, assigned._id == dropped._did, "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").alias(cell_col),
            F.when(F.col("_did").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )
    if max_pairs is not None:
        # materialize the small (id, cell, kept) result so `assigned`
        # can be released NOW — the checkpoint blocks GC with the
        # returned frame, and no persisted RDD survives the call
        out = out.localCheckpoint(eager=True)
        assigned.unpersist()
    return out


def semantic_dedup_autoscale(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    target_cell_size: int = 1024,
    n_iter: int = 1,
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """:func:`semantic_dedup` with the guard's remedy WIRED IN instead
    of only prescribed (VERDICT r7 task 4): the centroid count scales
    with the corpus — ``n_cells = ceil(N / target_cell_size)`` from one
    cheap count — and the centroids come from ``n_iter`` Lloyd rounds
    (:func:`~eclipse_spark.operators.similarity.kmeans_iterate`), so
    expected within-cell pair work stays ~``N * target_cell_size / 2``
    (LINEAR in N at fixed target cell size) rather than quadratic at a
    pinned k. The ``max_pairs`` audit stays on as the backstop for
    pathological skew (all vectors collapsing into one cell no matter
    how many centroids exist).

    The 100x scaling probe measured pinned-k SemDeDup at ratio 28.4
    (10x data) before the guard landed; this is the completion of that
    arc: refuse loudly at pinned k, converge at auto-scaled k."""
    import math

    from eclipse_spark.operators.similarity import kmeans_iterate

    n = emb.count()
    n_cells = max(1, math.ceil(n / target_cell_size))
    means = kmeans_iterate(
        emb, n_cells=n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    cents = means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c_val"))),
            lambda s: s.c_val,
        ).alias("centroid")
    )
    return semantic_dedup(
        emb,
        cents,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_pairs=max_pairs,
    )


# -- incremental (cross-corpus) dedup ---------------------------------


def minhash_dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """Incremental near-dedup: drop documents from a NEW batch that
    near-duplicate the EXISTING corpus — the refresh-run shape of
    every production pipeline (yesterday's 100 TB is already deduped;
    today's crawl must only be checked AGAINST it, plus against
    itself via the ordinary :func:`minhash_dedup`).

    Scale shape: signatures are computed per side and the banded join
    is new x ref ONLY (keyed on (band, band-hash)) — never ref x ref,
    so the heavy side is touched once for signatures and once in the
    bucket join; the verify joins shingle sets for candidate pairs
    only. Returns the surviving rows of ``new_df``."""
    sig_new = minhash_signatures_df(new_df, text_col, id_col, num_hashes, shingle_k, portable)
    sig_ref = minhash_signatures_df(ref_df, text_col, id_col, num_hashes, shingle_k, portable)
    cand = (
        _minhash_banded(sig_new, num_hashes, bands, portable).alias("n")
        .join(_minhash_banded(sig_ref, num_hashes, bands, portable).alias("r"), on=["band", "bh"])
        .select(F.col("n.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
        # persisted once (lazily) — read by the verify join AND both
        # semi-filters below; without plan-level reuse each read
        # replays both sides' signature pipelines; persist() keeps
        # lineage for fault recovery where a checkpoint would not
        # (see ngram_jaccard_verify)
        .persist()
    )
    # verify with shingle sets drawn from the matching side each;
    # each side semi-joins to its candidate ids BEFORE shingling, so
    # the verify pass only tokenizes candidate documents (see
    # ngram_jaccard_verify for the scale rationale)
    from eclipse_spark.operators.text import word_shingles

    sh_new = new_df.join(
        cand.select(F.col("id_a").alias(id_col)).distinct(), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("id_a"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh_a"),
    )
    sh_ref = ref_df.join(
        cand.select(F.col("id_b").alias(id_col)).distinct(), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("id_b"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh_b"),
    )
    verified = (
        cand.join(sh_new, "id_a")
        .join(sh_ref, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("id_a").alias(id_col)).distinct()
    return new_df.join(losers, on=id_col, how="left_anti")


def semantic_dedup_against(
    new_emb: DataFrame,
    ref_emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """INCREMENTAL SemDeDup — the EMBEDDING tier of the refresh family
    (:func:`minhash_dedup_against` for text, ``dhash_pairs_against``
    for media fingerprints; this completes the incremental story for
    every dedup tier): a NEW batch's vectors are compared against the
    EXISTING corpus's ONLY — never ref x ref — and only inside shared
    centroid cells, so the cross cost is sum over cells of
    |new_cell| x |ref_cell| instead of |new| x |ref|. Both sides
    assign by broadcast-centroid argmax (the k-row centroid table is
    the only thing replicated); the within-cell cross pair count is
    audited up front and the operator RAISES over ``max_pairs`` (the
    semantic_dedup contract: the fix at scale is more centroids, not
    a bigger budget). Pair stage normalizes each vector ONCE and pays
    a single zip_with dot per pair (the semantic_dedup cost
    discipline). Returns one row per NEW vector:
    ``(id_col, cell_col, n_dups, kept)`` with kept=1 iff no ref
    vector in its cell clears ``threshold`` — kept=0 rows carry the
    duplicate count as the audit trail."""
    from pyspark.sql import Window

    from eclipse_spark.operators.similarity import cosine_sim, norm

    cts = centroids.select(
        F.col(cell_col).alias("_cell"),
        F.col(centroid_col).cast("array<double>").alias("_c"),
    )

    def _assign(df: DataFrame) -> DataFrame:
        pts = df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        w = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("_cell"))
        return (
            pts.crossJoin(F.broadcast(cts))
            .withColumn("_sim", cosine_sim(F.col("_v"), F.col("_c")))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("_cell", "_id", "_v")
        )

    an, ar = _assign(new_emb), _assign(ref_emb)
    if max_pairs is not None:
        an = an.persist()
        ar = ar.persist()
    try:
        if max_pairs is not None:
            nn = an.groupBy("_cell").agg(F.count("*").alias("_nn"))
            nr = ar.groupBy("_cell").agg(F.count("*").alias("_nr"))
            audit = (
                nn.join(nr, on="_cell")
                .agg(
                    F.coalesce(
                        F.sum(
                            F.col("_nn").cast("decimal(38,0)")
                            * F.col("_nr")
                        ),
                        F.lit(0),
                    ).alias("_pairs"),
                    F.max(F.col("_nn") * F.col("_nr")).alias("_maxcell"),
                )
                .collect()[0]
            )
            n_pairs = int(audit["_pairs"] or 0)
            if n_pairs > max_pairs:
                raise RuntimeError(
                    f"semantic_dedup_against: within-cell new x ref "
                    f"pair count {n_pairs:,} exceeds "
                    f"max_pairs={max_pairs:,} (largest cell product "
                    f"{int(audit['_maxcell'] or 0):,}) — scale the "
                    f"centroid count with the corpora so cell sizes "
                    f"stay bounded, or raise/disable max_pairs "
                    f"explicitly"
                )

        def _unit(df: DataFrame) -> DataFrame:
            return df.withColumn("_n", norm(F.col("_v"))).select(
                "_cell",
                "_id",
                F.transform("_v", lambda x: x / F.col("_n")).alias("_u"),
            )

        hits = (
            _unit(an).alias("n")
            .join(_unit(ar).alias("r"), on="_cell")
            .withColumn(
                "_cos",
                F.aggregate(
                    F.zip_with(
                        F.col("n._u"), F.col("r._u"), lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
            .filter(F.col("_cos") >= threshold)
            .groupBy(F.col("n._id").alias("_hid"))
            .agg(F.count("*").cast("long").alias("_ndups"))
        )
        out = an.join(hits, an["_id"] == hits["_hid"], "left").select(
            F.col("_id").alias(id_col),
            F.col("_cell").alias(cell_col),
            F.coalesce(F.col("_ndups"), F.lit(0)).cast("long").alias("n_dups"),
            F.when(F.col("_hid").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
        )
        if max_pairs is not None:
            # materialize the small (id, cell, n_dups, kept) result so
            # the persisted assignments can be released NOW (the
            # semantic_dedup lifecycle: nothing outlives the call)
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if max_pairs is not None:
            an.unpersist()
            ar.unpersist()


def semantic_dedup_against_scaled(
    new_emb: DataFrame,
    ref_emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Arrow/numpy KERNEL tier of :func:`semantic_dedup_against` —
    identical semantics (new x ref inside shared centroid cells only,
    one row per NEW vector: id, cell, n_dups, kept), rebuilt for the
    100 TB path exactly as :func:`semantic_dedup_scaled` rebuilds the
    self-dedup tier: centroid ASSIGNMENT is one float64 GEMM per
    Arrow batch against the broadcast (k x dim) centroid matrix
    (argmax first-max ties to the lower cell id — the exact tier's
    (sim DESC, cell ASC) rule), and the CROSS stage is one
    |new_cell| x |ref_cell| GEMM per cell via ``applyInPandas``
    instead of a shuffled pair join paying an interpreted fold per
    pair. This is the operator the sf10 guard message's named fix
    runs: with centroids SCALED to the corpora (kmeans, n_cells ~
    N/target) the per-cell blocks stay bounded and the join the
    fixed-k exact tier refuses completes in seconds.

    Guard: the within-cell new x ref pair total is audited from the
    two assignment histograms before any block is scheduled; raises
    over ``max_pairs`` with the measured total and the largest single
    block. Determinism caveat (why the registry oracle pins
    margin-separated corpora): float64 GEMM accumulates in a
    different order than the HOF fold — property-tested equal to the
    exact tier away from threshold boundaries, the regime real
    near-dup thresholds operate in."""
    import numpy as np
    import pandas as pd

    sc = new_emb.sparkSession.sparkContext
    rows = (
        centroids.select(
            F.col(cell_col).cast("long").alias("c"),
            F.col(centroid_col).cast("array<double>").alias("v"),
        )
        .orderBy("c")
        .collect()
    )
    cell_ids = np.array([r["c"] for r in rows], dtype=np.int64)
    cmat = np.array([r["v"] for r in rows], dtype=np.float64)
    cm_bc, ids_bc = sc.broadcast(cmat), sc.broadcast(cell_ids)

    def _assign_fn(batches):
        cm = cm_bc.value
        cn = cm / np.maximum(
            np.linalg.norm(cm, axis=1, keepdims=True), 1e-300
        )
        ids = ids_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            vn = v / np.maximum(
                np.linalg.norm(v, axis=1, keepdims=True), 1e-300
            )
            best = np.argmax(vn @ cn.T, axis=1)
            yield pd.DataFrame(
                {"_id": pdf["_id"], "_cell": ids[best], "_v": pdf["_v"]}
            )

    def _assign(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).mapInPandas(
            _assign_fn, schema="_id long, _cell long, _v array<double>"
        )

    an = _assign(new_emb).withColumn("_side", F.lit("n"))
    ar = _assign(ref_emb).withColumn("_side", F.lit("r"))
    tagged = an.unionByName(ar)
    if max_pairs is not None:
        tagged = tagged.persist()
    try:
        if max_pairs is not None:
            hist = (
                tagged.groupBy("_cell")
                .agg(
                    F.count(F.when(F.col("_side") == "n", 1)).alias("_nn"),
                    F.count(F.when(F.col("_side") == "r", 1)).alias("_nr"),
                )
            )
            audit = hist.agg(
                F.coalesce(
                    F.sum(
                        F.col("_nn").cast("decimal(38,0)") * F.col("_nr")
                    ),
                    F.lit(0),
                ).alias("_pairs"),
                F.max(F.col("_nn") * F.col("_nr")).alias("_maxblock"),
            ).collect()[0]
            n_pairs = int(audit["_pairs"] or 0)
            if n_pairs > max_pairs:
                raise RuntimeError(
                    f"semantic_dedup_against_scaled: within-cell new x "
                    f"ref pair count {n_pairs:,} exceeds "
                    f"max_pairs={max_pairs:,} (largest cell block "
                    f"{int(audit['_maxblock'] or 0):,}) — scale the "
                    f"centroid count with the corpora, or "
                    f"raise/disable max_pairs explicitly"
                )

        thr = float(threshold)

        def _per_cell(key, pdf):
            n = pdf[pdf["_side"] == "n"]
            if not len(n):
                return pd.DataFrame(
                    columns=["_id", "_cell", "n_dups", "kept"]
                )
            r = pdf[pdf["_side"] == "r"]
            if len(r):
                un = np.stack(n["_v"].to_numpy()).astype(np.float64)
                un = un / np.maximum(
                    np.linalg.norm(un, axis=1, keepdims=True), 1e-300
                )
                ur = np.stack(r["_v"].to_numpy()).astype(np.float64)
                ur = ur / np.maximum(
                    np.linalg.norm(ur, axis=1, keepdims=True), 1e-300
                )
                ndups = (un @ ur.T >= thr).sum(axis=1).astype(np.int64)
            else:
                ndups = np.zeros(len(n), dtype=np.int64)
            return pd.DataFrame(
                {
                    "_id": n["_id"].to_numpy(),
                    "_cell": np.full(len(n), key[0], dtype=np.int64),
                    "n_dups": ndups,
                    "kept": (ndups == 0).astype(np.int64),
                }
            )

        out = (
            tagged.groupBy("_cell")
            .applyInPandas(
                _per_cell,
                schema="_id long, _cell long, n_dups long, kept long",
            )
            .select(
                F.col("_id").alias(id_col),
                F.col("_cell").alias(cell_col),
                "n_dups",
                "kept",
            )
        )
        if max_pairs is not None:
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if max_pairs is not None:
            tagged.unpersist()


def minhash_index_ref(
    catalog,
    ref_df: DataFrame,
    table: str = "minhash_ref_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    portable: bool = False,
    buckets: int = 8,
) -> str:
    """Materialize the REFERENCE corpus's banded MinHash table as a
    bucketed catalog artifact — the precompute half of the production
    refresh run. At 100 TB the existing corpus is signed ONCE here
    (shingle -> minhash -> band rows) and every subsequent daily batch
    joins against the stored (band, bh, id) table without touching the
    reference text again; bucketing on (band, bh) means the refresh
    join shuffles only the (small) new side. Ref analogue: Eclipse
    persists intermediate data at its DHT home node so reruns skip the
    map phase (``src/file_distributor/fileserver.hh:354-359``)."""
    banded = _minhash_banded(
        minhash_signatures_df(ref_df, text_col, id_col, num_hashes, shingle_k, portable),
        num_hashes,
        bands,
        portable,
    )
    return catalog.put_bucketed(table, banded, keys=["band", "bh"], buckets=buckets)


def minhash_dedup_against_index(
    new_df: DataFrame,
    ref_banded: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """:func:`minhash_dedup_against` with the reference side's banded
    signature table PRECOMPUTED (see :func:`minhash_index_ref`): the
    refresh run signs only the new batch; the reference corpus is
    never re-shingled for candidate generation — its text is read
    once more only to verify the (tiny) candidate set, semi-joined to
    candidate ids first. ``ref_df`` must be the same corpus the index
    was built from."""
    sig_new = minhash_signatures_df(
        new_df, text_col, id_col, num_hashes, shingle_k, portable
    )
    cand = (
        _minhash_banded(sig_new, num_hashes, bands, portable).alias("n")
        .join(ref_banded.alias("r"), on=["band", "bh"])
        .select(F.col("n.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
        .persist()
    )
    from eclipse_spark.operators.text import word_shingles as _ws

    sh_new = new_df.join(
        cand.select(F.col("id_a").alias(id_col)).distinct(), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("id_a"),
        F.array_distinct(_ws(F.col(text_col), shingle_k)).alias("sh_a"),
    )
    sh_ref = ref_df.join(
        cand.select(F.col("id_b").alias(id_col)).distinct(), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("id_b"),
        F.array_distinct(_ws(F.col(text_col), shingle_k)).alias("sh_b"),
    )
    verified = (
        cand.join(sh_new, "id_a")
        .join(sh_ref, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("id_a").alias(id_col)).distinct()
    return new_df.join(losers, on=id_col, how="left_anti")


def select_canonical(
    scored: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """Cluster-aware canonical selection — the KEEP decision a
    production near-dedup makes after clustering: within every
    near-dup cluster keep the best-scoring document (quality score,
    length, recency — caller's choice), not the arbitrary min-id the
    plain dedup variants use. Documents outside any cluster form
    singleton clusters of themselves and are always kept.

    ``scored`` is (id_col, score_col, ...); ``components`` is the
    (node, component) output of :func:`connected_components`. One
    left join to attach cluster labels (edge-node table is ≤ corpus-
    sized) and one component-keyed window — a single shuffle each;
    nothing touches the driver.

    Returns scored's columns plus (component_col, kept) with kept=1
    for the per-cluster winner (highest score, ties to smallest id)."""
    lab = scored.join(
        components.select(
            F.col(node_col).alias(id_col), F.col(component_col).alias("_comp")
        ),
        on=id_col,
        how="left",
    ).withColumn(component_col, F.coalesce(F.col("_comp"), F.col(id_col))).drop("_comp")
    w = Window.partitionBy(component_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return lab.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment ``|A ∩ B| / |A|``
    over word n-gram shingle sets — the quote/subset relation Jaccard
    misses (a 30-token excerpt of a 500-token doc has tiny Jaccard
    but containment ~1.0 in the source; dedup pipelines drop the
    excerpt, keep the source).

    This is the bounded all-pairs baseline (both directions of every
    id pair; the oracle shape). The 100 TB path is identical algebra
    over an LSH candidate set: feed ``minhash_candidates`` pairs in
    and verify containment instead of Jaccard — candidate generation
    is unchanged because banded MinHash recalls high-containment
    pairs whenever the smaller side dominates the signature.
    Returns (id_a, id_b, containment) where id_a's shingles are the
    denominator, filtered at ``threshold``."""
    from eclipse_spark.operators.text import word_shingles

    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cont = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size("sh_a"),
        6,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Containment verify over an LSH candidate set — the scale path
    of :func:`containment_pairs`: candidate generation is the banded
    MinHash join (sub-quadratic, bucket-keyed), then the asymmetric
    ``|A ∩ B| / |A|`` evaluates BOTH directions of each candidate
    pair (containment is directional; Jaccard-symmetric candidates
    feed two verdicts). Shingle sets join the candidate table on the
    id keys, so shingle arrays move rows proportional to the
    candidate count, never the corpus.

    Recall note: banded MinHash recalls pairs by JACCARD, so an
    excerpt must still share enough of the larger doc's shingles to
    surface (a 30-of-50-token quote does; a 5-of-5000 one needs a
    dedicated asymmetric index). Returns (id_a, id_b, containment)
    where id_a's shingles are the denominator."""
    from eclipse_spark.operators.text import word_shingles

    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("_sh"),
    )
    cand2 = candidates.select("id_a", "id_b").unionAll(
        candidates.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    joined = (
        cand2.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
    )
    cont = F.round(
        F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
        / F.size("_sh_a"),
        6,
    )
    return (
        joined.select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def minhash_estimate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    num_hashes: int = 32,
    shingle_k: int = 5,
    portable: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig: DataFrame | None = None,
) -> DataFrame:
    """Signature-based Jaccard ESTIMATE for candidate pairs: the
    fraction of equal MinHash components — the number the LSH tier
    actually thresholds on at scale, where exact shingle-set
    intersection of every candidate is unaffordable. Returns
    (id_a, id_b, est_jaccard); est is k_equal/num_hashes, exact in
    double. Joining against the signature table costs candidate-count
    rows; signatures are num_hashes longs per doc regardless of
    document size — the whole point of sketch-verify."""
    if sig is None:
        sig = minhash_signatures_df(
            df, text_col, id_col, num_hashes, shingle_k, portable
        )
    a = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    b = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    eq = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (eq.cast("double") / num_hashes).alias("est_jaccard"),
        )
    )


def lsh_recall_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    n_bins: int = 10,
    portable: bool = False,
) -> DataFrame:
    """The measured S-curve of the banded MinHash design: bucket every
    overlapping pair by its EXACT shingle-Jaccard decile and report
    what fraction of each decile the LSH candidate generation
    captured — the "did (bands, rows) actually give the recall the
    theory promises at our threshold" audit, run on data instead of
    the 1-(1-j^r)^b formula. Deciles are integer-exact
    (``(n_bins*c) div (|A|+|B|-c)``, clamped to ``n_bins - 1`` so
    exact-duplicate pairs with J = 1 fold into the TOP decile instead
    of spilling into an 11th out-of-range bucket); capture rates are
    one division each.

    The ground truth enumerates pairs that share >= 1 shingle via the
    shingle join — quadratic in the co-shingle neighborhood, so run
    this audit on a SAMPLE of the corpus (the operator is a design
    check, not a production stage; pairs with zero overlap are
    structurally invisible to MinHash and excluded from the curve).
    Returns (bin, n_pairs, n_candidates, capture_rate)."""
    from eclipse_spark.operators.text import tokens, word_shingles_raw

    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(word_shingles_raw(tokens(F.col(text_col)), shingle_k))
        ).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    ov = (
        sh.alias("a")
        .join(sh.alias("b"), on="s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    truth = (
        ov.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn(
            "bin",
            F.expr(
                f"least({int(n_bins) - 1}, {int(n_bins)} * c div (na + nb - c))"
            ),
        )
    )
    cands = minhash_lsh_candidates(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        portable=portable,
    ).withColumn("_is_cand", F.lit(1))
    joined = truth.join(cands, ["id_a", "id_b"], "left")
    return (
        joined.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("_is_cand"), F.lit(0))).cast("long").alias(
                "n_candidates"
            ),
        )
        .withColumn(
            "capture_rate",
            F.round(
                F.col("n_candidates").cast("double") / F.col("n_pairs").cast("double"),
                9,
            ),
        )
    )


def semantic_dedup_scaled(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    target_cell_size: int = 1024,
    n_iter: int = 1,
    centroids: DataFrame | None = None,
    cell_col: str = "cell",
    centroid_col: str = "centroid",
    max_cell_factor: int = 64,
) -> DataFrame:
    """Arrow/numpy kernel tier of SemDeDup — IDENTICAL drop semantics
    to :func:`semantic_dedup` / :func:`semantic_dedup_autoscale`
    (nearest-centroid cells, drop the larger id of any within-cell
    pair with cosine >= threshold), rebuilt for the 100 TB path where
    the exact tier's per-pair higher-order-function dot product is the
    bottleneck (repo-measured ~10-100x slower than vectorized kernels;
    at 200k x 64-dim vectors and ~1000 cells the HOF assignment alone
    is ~1.5e8 interpreted folds — hours locally, seconds as GEMMs):

    - centroid ASSIGNMENT runs in ``mapInPandas``: one float64 GEMM
      per Arrow batch against the broadcast (k x dim) centroid matrix;
      ``argmax`` returns the FIRST maximum, i.e. ties break toward the
      lower cell id — the same (sim DESC, cell ASC) rule as the exact
      tier's window.
    - optional Lloyd rounds recompute per-cell means with a vectorized
      ``applyInPandas`` (cells are bounded, so each group is one tiny
      matrix sum) and re-assign; centroids round-trip through a
      driver-side (k x dim) array — megabytes at any realistic k.
    - the PAIR stage is ``applyInPandas`` per cell: unit-normalize,
      S = U @ U.T, and j drops iff some i < j has S[i,j] >= threshold
      — one c^2 * dim GEMM per cell instead of c^2 shuffled pairs each
      paying an interpreted fold. Within-cell work is (cell size)^2,
      bounded because the cell count scales with the corpus
      (``ceil(N / target_cell_size)``), exactly the autoscale
      contract.

    Guard: raises when any cell exceeds ``max_cell_factor *
    target_cell_size`` — a degenerate centroid collapse would hand one
    worker a c^2 similarity block; the audit is one O(k) aggregate on
    the checkpointed assignment (same spirit as the exact tier's
    max_pairs audit, but per-worker-block rather than global, because
    blocks are the scaled tier's unit of cost).

    Determinism caveat (why the ORACLE queries keep the exact tier):
    float64 GEMM accumulates in a different order than the HOF fold,
    so an assignment or drop can flip when two similarities sit within
    ~1 ulp of each other or of the threshold. Property-tested equal to
    the exact tier on margin-separated corpora (tests/), which is the
    regime real near-dup thresholds operate in.

    ``centroids``: pass a (cell, centroid) DataFrame to pin the cells
    (skips derivation and Lloyd; the equivalence-test hook and the
    "centroids come from a real clustering job" production path).
    Returns (id_col, cell_col, kept) like the exact tier."""
    import math

    import numpy as np
    import pandas as pd

    sc = emb.sparkSession.sparkContext
    pts = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    if centroids is not None:
        rows = (
            centroids.select(
                F.col(cell_col).cast("long").alias("c"),
                F.col(centroid_col).cast("array<double>").alias("v"),
            )
            .orderBy("c")
            .collect()
        )
        cell_ids = np.array([r["c"] for r in rows], dtype=np.int64)
        cmat = np.array([r["v"] for r in rows], dtype=np.float64)
        lloyd_rounds = 0
    else:
        # DISTRIBUTED sampled seeding (VERDICT r8: the old
        # orderBy(_id).limit(n_cells) pulled the first n_cells ids
        # through a driver collect AND correlated seeds with id order —
        # degenerate cells on sorted corpora). k-means‖-style: a
        # Bernoulli sample at ~3x the needed rate (a narrow map — no
        # per-task top-k state proportional to n_cells), then a
        # seed-fixed rand() ranking picks exactly n_cells of the
        # survivors; only the post-sample (k x dim) seed matrix crosses
        # the driver, which the broadcast-assignment design needs on
        # every worker anyway. Deterministic for a fixed input layout
        # (both sample and rand are seed-fixed).
        n = pts.count()
        n_cells = max(1, math.ceil(n / target_cell_size))
        frac = min(1.0, 3.0 * n_cells / max(n, 1))
        cand = pts if frac >= 1.0 else pts.sample(False, frac, seed=41)
        seed_rows = (
            cand.select("_id", "_v", F.rand(seed=43).alias("_r"))
            .orderBy("_r", "_id")
            .limit(n_cells)
            .collect()
        )
        if len(seed_rows) < n_cells:
            # sample undershot (tiny corpora) — fall back to ranking
            # the full set; still id-order-free
            seed_rows = (
                pts.select("_id", "_v", F.rand(seed=43).alias("_r"))
                .orderBy("_r", "_id")
                .limit(n_cells)
                .collect()
            )
        cell_ids = np.arange(len(seed_rows), dtype=np.int64)
        cmat = np.array([r["_v"] for r in seed_rows], dtype=np.float64)
        lloyd_rounds = n_iter

    def _assign_fn(cmat_bc, ids_bc):
        def run(batches):
            cm = cmat_bc.value
            cn = cm / np.maximum(
                np.linalg.norm(cm, axis=1, keepdims=True), 1e-300
            )
            ids = ids_bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                vn = v / np.maximum(
                    np.linalg.norm(v, axis=1, keepdims=True), 1e-300
                )
                best = np.argmax(vn @ cn.T, axis=1)
                yield pd.DataFrame(
                    {"_id": pdf["_id"], "_cell": ids[best], "_v": pdf["_v"]}
                )
        return run

    def _assign(df, cm, ids):
        cm_bc, ids_bc = sc.broadcast(cm), sc.broadcast(ids)
        return df.mapInPandas(
            _assign_fn(cm_bc, ids_bc),
            schema="_id long, _cell long, _v array<double>",
        )

    def _mean_partial(batches):
        # per-partition (cell -> sum, count): bounded k x dim state,
        # vectorized per batch; the stream of vectors never shuffles
        # (VERDICT r9 task 6: the old groupBy().applyInPandas() mean
        # moved EVERY vector to its cell's task each Lloyd round and
        # needed a driver-ordered collect)
        sums: dict = {}
        cnts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["_cell"].to_numpy()
            v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            for c in np.unique(cells):
                mask = cells == c
                s = v[mask].sum(axis=0)
                prev = sums.get(int(c))
                sums[int(c)] = s if prev is None else prev + s
                cnts[int(c)] = cnts.get(int(c), 0) + int(mask.sum())
        yield pd.DataFrame(
            {
                "_cell": list(sums),
                "_s": [list(s) for s in sums.values()],
                "_n": [cnts[c] for c in sums],
            }
        )

    for _ in range(lloyd_rounds):
        assigned = _assign(pts, cmat, cell_ids)
        # TreeAggregate shape: map-side partial sums (<= k rows per
        # partition), one tiny (cell)-keyed merge of partials — an
        # elementwise zip_with fold — then ONE k x dim collect. Cross-
        # partition float addition order is collect_list order (same
        # nondeterminism class the previous shuffle-mean had; the
        # oracle tier pins centroids, so Lloyd refinement stays an
        # internal step).
        partials = assigned.mapInPandas(
            _mean_partial, schema="_cell long, _s array<double>, _n long"
        )
        zero = F.transform(
            F.element_at(F.col("_l"), 1), lambda y: y * F.lit(0.0)
        )
        mrows = (
            partials.groupBy("_cell")
            .agg(
                F.sum("_n").alias("_n"),
                F.collect_list("_s").alias("_l"),
            )
            .select(
                "_cell",
                F.transform(
                    F.aggregate(
                        F.col("_l"),
                        zero,
                        lambda acc, x: F.zip_with(
                            acc, x, lambda a, b: a + b
                        ),
                    ),
                    lambda s: s / F.col("_n"),
                ).alias("_c"),
            )
            .collect()
        )
        # driver-side sort of <= k rows: np.argmax breaks similarity
        # ties by row index, so an unordered collect would let tie
        # points flip cells run-to-run (ADVICE r10) — the pre-refactor
        # .orderBy('_cell') determinism, restored for free
        mrows.sort(key=lambda r: r["_cell"])
        cell_ids = np.array([r["_cell"] for r in mrows], dtype=np.int64)
        cmat = np.array([r["_c"] for r in mrows], dtype=np.float64)

    # lazy: the collapse-guard aggregate right below is the first
    # action and materializes the checkpoint inside its own job
    assigned = _assign(pts, cmat, cell_ids).localCheckpoint(eager=False)
    sizes = assigned.groupBy("_cell").agg(F.count("*").alias("_n"))
    biggest = sizes.agg(F.max("_n")).collect()[0][0] or 0
    cap = max_cell_factor * target_cell_size
    if biggest > cap:
        raise RuntimeError(
            f"semantic_dedup_scaled: largest cell has {biggest:,} vectors "
            f"(> {cap:,} = max_cell_factor*target_cell_size) — centroids "
            "collapsed; rerun with more Lloyd rounds or better seeds, or "
            "raise max_cell_factor explicitly"
        )

    thr = float(threshold)

    def _drop(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        u = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
        s = u @ u.T
        c = len(pdf)
        hit = (s >= thr) & np.triu(np.ones((c, c), dtype=bool), k=1)
        kept = (~hit.any(axis=0)).astype("int32")
        return pd.DataFrame(
            {"_id": pdf["_id"], "_cell": pdf["_cell"], "kept": kept}
        )

    out = assigned.groupBy("_cell").applyInPandas(
        _drop, schema="_id long, _cell long, kept int"
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_cell").alias(cell_col),
        "kept",
    )
