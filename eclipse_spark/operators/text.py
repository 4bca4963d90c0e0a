"""Text-analysis operators (north-star; SURVEY §2.6 [north-star] rows).

All hot-path expressions are built-in ``pyspark.sql.functions`` — they
compile into whole-stage codegen and never cross the Python boundary.
Designed over the ``documents`` table (doc_id, text, lang, source,
n_chars) but column-parameterized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"

_STOPWORDS = {
    "en": ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "que", "y", "es", "un", "una", "con", "para"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring: length, token stats, punctuation /
    digit / uppercase ratios, stopword ratio, mean word length. The
    standard pre-training quality gates (Gopher/C4-style), as one
    codegen'd projection."""
    t = F.col(text_col)
    toks = tokens(t)
    n_char = F.length(t)
    n_tok = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    return df.withColumns(
        {
            "n_chars_q": n_char,
            "n_tokens": n_tok,
            "mean_word_len": F.when(n_tok > 0, (n_char - n_tok + 1) / n_tok).otherwise(F.lit(0.0)),
            "punct_ratio": F.when(
                n_char > 0,
                F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")) / n_char,
            ).otherwise(F.lit(0.0)),
            "digit_ratio": F.when(
                n_char > 0, F.length(F.regexp_replace(t, r"[^0-9]", "")) / n_char
            ).otherwise(F.lit(0.0)),
            "upper_ratio": F.when(
                n_char > 0, F.length(F.regexp_replace(t, r"[^A-Z]", "")) / n_char
            ).otherwise(F.lit(0.0)),
            "stopword_ratio": F.when(
                n_tok > 0, F.size(F.array_intersect(toks, en_stop)) / n_tok
            ).otherwise(F.lit(0.0)),
        }
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID over {en,de,fr,es}: score = number of
    distinct language stopwords present; argmax wins, 'und'
    (undetermined) when all zero. A pure-SQL heuristic — at 100 TB this
    is one pass, no UDF, no model artifact."""
    toks = tokens(F.col(text_col))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias(f"_s_{lang}")
        for lang, ws in _STOPWORDS.items()
    ]
    langs = list(_STOPWORDS)
    scored = df.select("*", *scores)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pick = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pick = pick.when(F.col(f"_s_{lang}") == best, F.lit(lang))
    return scored.withColumn(out_col, pick).drop(*[f"_s_{lang}" for lang in langs])


def shingles_raw(norm: Column, k: int = 5) -> Column:
    """Char k-gram shingles of an ALREADY-normalized column. Callers
    must hoist normalization into a prior projection: an expression
    inside the transform() lambda is re-evaluated per element, so an
    inline regexp_replace runs #chars times per document (measured
    ~30x slowdown on doc_fingerprint at sf0.1)."""
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k)))


def norm_ws(text: Column) -> Column:
    """Whitespace-normalized lowercase text (the shingling unit)."""
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-gram shingle array of the normalized text (the unit
    for MinHash / winnowing fingerprints). Built-ins only:
    sequence + transform + substring. For hot paths prefer
    ``shingles_raw`` over a pre-projected ``norm_ws`` column."""
    return shingles_raw(norm_ws(text), k)


def word_shingles_raw(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles over an ALREADY-tokenized array column —
    hoist ``tokens()`` into a prior projection (see shingles_raw)."""
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles — the standard unit for document-level
    near-dedup (far fewer shingles than char k-grams: ~#tokens vs
    ~#chars, so MinHash costs drop ~5-10x at equal quality)."""
    return word_shingles_raw(tokens(text), n)


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    k: int = 9,
    id_col: str = "doc_id",
    out_col: str = "fp",
    portable: bool = False,
) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over the
    k-gram shingle set — a content id stable under whitespace
    normalization (the rolling-hash fingerprint of SURVEY's north-star
    text ops). Explode + partial-agg min (codegen'd, map-side
    combined); the array_min-over-transform HOF form runs interpreted
    and was measured ~30x slower at sf0.1. ``portable=True`` uses the
    md5-derived 60-bit hash (functions.scalar.portable_hash60) so an
    external SQL oracle recomputes the fingerprint bit-for-bit;
    default stays xxhash64."""
    normed = df.select(F.col(id_col), norm_ws(F.col(text_col)).alias("_norm"))
    exploded = normed.select(
        F.col(id_col), F.explode(shingles_raw(F.col("_norm"), k)).alias("_s")
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        h = portable_hash60(F.md5("_s"), 0)
    else:
        h = F.xxhash64("_s")
    return exploded.groupBy(id_col).agg(F.min(h).alias(out_col))


# -- PII scrubbing and repetition filters (pre-training curation) -------

#: Conservative patterns (precision over recall) — the standard public
#: scrub set: emails, IPv4, long digit runs (account/card numbers),
#: international-ish phone numbers. Order matters: the phone pattern is
#: the loosest, so emails, IPs, and digit runs must be masked first or
#: phone would eat their digit spans.
_PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{9,}\b", "<NUMBER>"),
    (r"\+?\d[\d\s().-]{7,14}\d", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Mask common PII spans with typed placeholders — a chain of
    codegen regexp_replace calls (one projection, no UDF, no shuffle),
    so it runs at full scan speed over any corpus size."""
    out = text
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of
    duplicate lines and fraction of characters inside duplicate lines
    (boilerplate/spam detector). Lines are exploded and counted with a
    codegen (id, line) partial agg — two key-shuffles on id, no UDF,
    no per-doc collect; at 100 TB the doc id is the shuffle key so
    skew is bounded by the longest single document."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\n")).alias("_line"),
    ).filter(F.length(F.trim(F.col("_line"))) > 0)
    per_line = lines.groupBy(id_col, "_line").agg(F.count("*").alias("_n"))
    return per_line.groupBy(id_col).agg(
        F.sum("_n").alias("n_lines"),
        (
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(F.lit(0)))
            / F.sum("_n")
        ).alias("dup_line_frac"),
        (
            F.sum(
                F.when(
                    F.col("_n") > 1, F.col("_n") * F.length("_line")
                ).otherwise(F.lit(0))
            )
            / F.sum(F.col("_n") * F.length("_line"))
        ).alias("dup_char_frac"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus' own
    unigram language model — the classic cheap fluency/quality score
    (the KenLM-style filter's degenerate-but-useful little sibling:
    rare-token-soup documents score low, plain running text scores
    high).

    Two passes, both shuffle-bounded: (1) token explode + (token)
    count agg builds the LM; (2) tokens re-join the LM on the token
    key and aggregate per doc. The vocabulary is far smaller than the
    corpus (heaps' law), so pass 2 broadcasts it; the only corpus-size
    shuffle is the per-doc aggregation. Determinism: each token's
    log-prob is rounded to 9 digits then accumulated in decimal, so
    the sum is independent of partition order and engine (see the
    repo's oracle-parity rules).

    Returns (id_col, n_tokens, avg_logprob) with avg_logprob rounded
    to 9 digits (the decimal sum is cast to double BEFORE the divide,
    so both operands and the IEEE division are bit-identical on any
    engine).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    vocab = toks.groupBy("_tok").agg(F.count("*").alias("_cnt"))
    total = vocab.agg(F.sum("_cnt").alias("_total"))
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "_tok",
        F.round(F.log(F.col("_cnt") / F.col("_total")), 9)
        .cast("decimal(16,9)")
        .alias("_lp"),
    )
    return (
        toks.join(F.broadcast(lm), "_tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("_lp").cast("double") / F.count("*"), 9
            ).alias("avg_logprob"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the context-window preparation step of a pretraining/embedding
    pipeline (chunk i covers tokens [i*stride, i*stride + window)).
    Every document yields at least one chunk; the last chunk may be
    short; with stride < window consecutive chunks overlap by
    (window - stride) tokens.

    Pure codegen: tokenization and the start-index arithmetic sit in
    projections, chunks materialize via explode(sequence) + slice —
    no UDF, no shuffle at all (chunking is embarrassingly row-local,
    so at 100 TB this runs at scan speed and composes with any
    downstream shuffle). Start count uses integer-exact arithmetic so
    engines agree on chunk boundaries.

    Returns (id_col, chunk_id, chunk_text, n_tokens).
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    # n_starts = 1 + ceil(max(n - window, 0) / stride), integer-exact:
    # ceil(a/b) = (a + b - 1) div b on non-negative ints. The division
    # stays well inside 2^53 so the double round-trip is exact.
    extra = F.greatest(n - F.lit(window), F.lit(0))
    n_starts = (
        F.lit(1)
        + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    )
    chunks = toks.withColumn(
        "_ci", F.explode(F.sequence(F.lit(0), n_starts - 1))
    ).withColumn("_chunk", F.slice("_toks", F.col("_ci") * stride + 1, window))
    return chunks.select(
        F.col(id_col),
        F.col("_ci").cast("long").alias("chunk_id"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
        F.size("_chunk").cast("long").alias("n_tokens"),
    )


def _bpe_merge_syms(syms: Column, pair: Column) -> Column:
    """Apply ONE BPE merge (greedy, left-to-right, non-overlapping —
    the reference Sennrich semantics) to a symbol array, given the
    winning pair as an ``"a b"`` string. Pure fold (F.aggregate) with
    a string accumulator: a trailing ``#`` marks "last symbol was just
    merged, unavailable as a left partner this pass". Returns the
    merged sequence as a space-joined string (symbols must not contain
    spaces or ``#`` — true for natural-language tokens)."""
    a = F.element_at(F.split(pair, " "), 1)
    b = F.element_at(F.split(pair, " "), 2)
    merged = F.concat(a, b)

    def step(acc: Column, x: Column) -> Column:
        tail = F.element_at(F.split(acc, " "), -1)
        return (
            F.when(
                acc.endswith("#"),
                F.concat(F.substring(acc, F.lit(1), F.length(acc) - 1), F.lit(" "), x),
            )
            .when(
                (tail == a) & (x == b),
                F.concat(
                    F.substring(acc, F.lit(1), F.length(acc) - F.length(tail)),
                    merged,
                    F.lit("#"),
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), x))
        )

    folded = F.aggregate(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.element_at(syms, 1),
        step,
    )
    return F.regexp_replace(folded, "#$", "")


def bpe_train(
    df: DataFrame, n_merges: int = 2, text_col: str = "text"
) -> DataFrame:
    """Byte-pair-encoding vocabulary training, the first n_merges
    iterations: split the corpus vocabulary into characters, then per
    round (1) count adjacent symbol pairs weighted by word frequency,
    (2) pick the most frequent pair (ties broken lexicographically),
    (3) merge its occurrences greedily left-to-right in every word.

    Scale split: the only corpus-sized work is the word-frequency
    count (the word-count shuffle shape, map-side combined); every
    merge round then runs over the VOCABULARY table, which is orders
    of magnitude smaller than the corpus (Heaps' law) — so the
    per-round folds are interpreted-HOF over a small table by
    construction, and pair counting is a vocab-sized explode + agg.
    The vocab table is persisted so rounds don't rescan the corpus.

    Returns (word, freq, syms) — the post-merge symbol sequence as a
    space-joined string per vocabulary word. The chosen merges are
    recoverable as the multi-char symbols.
    """
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .persist()
    )
    cur = words.select(
        "word",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, F.lit(1)),
        ).alias("syms"),
    )
    for _ in range(n_merges):
        pairs = (
            cur.filter(F.size("syms") > 1)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.concat(
                            F.element_at(F.col("syms"), i),
                            F.lit(" "),
                            F.element_at(F.col("syms"), i + 1),
                        ),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).select("pair")
        cur = (
            cur.crossJoin(F.broadcast(best))
            .withColumn("_m", _bpe_merge_syms(F.col("syms"), F.col("pair")))
            .select("word", "freq", F.split("_m", " ").alias("syms"))
        )
    return cur.select("word", "freq", F.concat_ws(" ", "syms").alias("syms"))


def sequence_pack(
    df: DataFrame,
    budget: int = 256,
    buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming-concatenation sequence packing: documents are laid
    end-to-end in a deterministic pseudo-random order and split into
    fixed token-budget bins — the standard pretraining dataloader
    layout (docs may straddle a bin boundary; each doc is recorded at
    the bin its first token lands in).

    Parallelism: a true global concatenation is one sequential stream,
    so documents first hash into ``buckets`` independent streams
    (md5-bucketed — engine-portable, no RNG state) and packing runs
    per bucket: one window shuffle keyed on the bucket, cumulative-sum
    frame inside. At 100 TB pick buckets ~ cluster parallelism; bin
    quality is unaffected because the order within any stream was
    pseudo-random anyway.

    Returns (id_col, bucket, bin_id, bin_offset, n_tokens).
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    ).withColumn(
        "_bucket",
        (F.conv(F.substring("_h", 1, 8), 16, 10).cast("long") % buckets).cast("int"),
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = t.withColumn("_end", F.sum("n_tokens").over(w)).withColumn(
        "_start", F.col("_end") - F.col("n_tokens")
    )
    return packed.select(
        F.col(id_col),
        F.col("_bucket").alias("bucket"),
        F.floor(F.col("_start") / budget).alias("bin_id"),
        (F.col("_start") % budget).alias("bin_offset"),
        "n_tokens",
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the document's own token
    distribution — the diversity signal next to unigram_logprob's
    fluency: repeated-token spam scores near 0, varied text scores
    near log2(n_distinct). Explode + (id, token) count + per-id agg —
    two key-shuffles, map-side combined, no UDF. Each term
    -(c/n)*log2(c/n) rounds to 9 digits then accumulates in decimal,
    so the sum is partition-order- and engine-exact with no surface
    rounding needed.

    Returns (id_col, n_tokens, n_distinct, entropy).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    per_tok = toks.groupBy(id_col, "_tok").agg(F.count("*").alias("_c"))
    totals = per_tok.groupBy(id_col).agg(
        F.sum("_c").alias("_n"), F.count("*").alias("n_distinct")
    )
    p = F.col("_c") / F.col("_n")
    term = F.round(-p * F.log2(p), 9).cast("decimal(16,9)")
    return (
        per_tok.join(totals, id_col)
        .groupBy(id_col, F.col("_n").alias("n_tokens"), "n_distinct")
        .agg(F.sum(term).cast("double").alias("entropy"))
        .select(id_col, "n_tokens", "n_distinct", "entropy")
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
    min_occurrences: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Corpus-level duplicated-span removal — the C4 "repeated span" /
    CCNet paragraph-dedup rule adapted to unstructured text: cut each
    document into NON-OVERLAPPING ``span_tokens``-token spans, count
    identical spans across the WHOLE corpus, drop every occurrence of
    any span appearing >= ``min_occurrences`` times (boilerplate,
    navigation chrome, license headers), and rebuild each document
    from its surviving spans in order.

    Scale shape: one explode (doc -> spans with position), one
    (span-hash) count aggregate (map-side combined), one shuffle join
    of spans against counts keyed on the hash (both sides partition by
    the same key; no broadcast of the |distinct spans| table, which is
    corpus-sized at 100 TB), and one (id) aggregate to reassemble
    order via sorted (pos, span) structs. The span text itself crosses
    a shuffle only in the rebuild — bounded by the output size.

    ``portable=True`` hashes spans with the md5-derived 60-bit hash so
    an external SQL oracle replays the pipeline exactly.

    Returns (id_col, text, n_spans, n_spans_removed) — empty-text rows
    kept (a fully-boilerplate document becomes an empty string, the
    caller's filter decides)."""
    toks_col = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks_col.alias("_toks"))
    n_sp = F.ceil(F.size("_toks") / F.lit(span_tokens)).cast("int")
    spans = base.select(
        "_id",
        F.posexplode(
            F.when(
                F.size("_toks") > 0,
                F.transform(
                    F.sequence(F.lit(1), n_sp),
                    lambda i: F.concat_ws(
                        " ", F.slice("_toks", (i - F.lit(1)) * span_tokens + 1, span_tokens)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_pos", "_span"),
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        h = portable_hash60(F.md5("_span"), 0)
    else:
        h = F.xxhash64("_span")
    hashed = spans.select("_id", "_pos", "_span", h.alias("_h"))
    counts = hashed.groupBy("_h").agg(F.count("*").alias("_cnt"))
    kept = (
        hashed.join(counts, "_h")
        .withColumn("_dup", (F.col("_cnt") >= min_occurrences).cast("int"))
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_dup") == 0, F.struct("_pos", "_span"))
                    )
                ),
                lambda s: s["_span"],
            ),
        ).alias("text"),
        F.count("*").alias("n_spans"),
        F.sum("_dup").alias("n_spans_removed"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_spans_removed"), F.lit(0)).cast("long").alias(
                "n_spans_removed"
            ),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_occurrences: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Keep-first OVERLAPPING repeated-substring removal — the
    "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022) ExactSubstr rule re-expressed for Spark: any
    ``k``-token window occurring >= ``min_occurrences`` times anywhere
    in the corpus is a repeat; the globally FIRST occurrence (min
    (id, position)) of each distinct window survives, every other
    occurrence's token range is cut, and documents are rebuilt from
    their surviving tokens in order. Tokens inside ANY elected
    first-occurrence window are protected from removal — without this,
    overlapping duplicate windows (periodic text, repeat period < k)
    would cut tokens inside the winner and destroy the kept copy. Complements :func:`span_dedup`
    (non-overlapping C4 spans, drop-all): overlapping windows catch
    repeats at ANY alignment — the suffix-array use case — and
    keep-first preserves exactly one copy of shared content instead of
    deleting it everywhere.

    Scale shape (the suffix array itself is pointer-chasing and
    cluster-hostile; sliding k-gram hashing is the distributable
    equivalent): one overlapping-window explode (n-k+1 rows per doc —
    same order as the corpus token count; only (id, start, 60-bit
    hash) fixed-width rows shuffle, never window text), a map-side
    combined hash-count aggregate, a semi-join back on the hash, ONE
    row_number window per hash partition to elect first occurrences
    (deterministic: (id, start) is unique), a x``k`` coverage explode
    on LOSER windows only, and the (id)-keyed rebuild join. No
    broadcast of anything corpus-sized.

    ``portable=True`` hashes with the md5-derived 60-bit hash so an
    external SQL oracle replays the pipeline exactly.

    Returns (id_col, text, n_tokens, n_tokens_removed); empty/short
    docs (< k tokens) pass through untouched."""
    base = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    ).persist()  # two consumers: window explode + token rebuild
    n_win = F.greatest(F.size("_toks") - F.lit(k - 1), F.lit(0))
    wins = base.select(
        "_id",
        F.posexplode(
            F.when(
                n_win > 0,
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_p0", "_win"),
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        h = portable_hash60(F.md5("_win"), 0)
    else:
        h = F.xxhash64("_win")
    hashed = wins.select(
        "_id", (F.col("_p0") + 1).alias("_start"), h.alias("_h")
    )
    dup_hashes = (
        hashed.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_occurrences)
        .select("_h")
    )
    dup_wins = hashed.join(dup_hashes, "_h", "left_semi")
    first_w = Window.partitionBy("_h").orderBy("_id", "_start")
    # two consumers (loser/winner coverage): materialize once via
    # localCheckpoint — released with the result's GC, not pinned for
    # the session like the former never-unpersisted persist (ADVICE
    # r7). LAZY (VERDICT r8): the first consumer's action materializes
    # the checkpoint in its own job; eager=True paid a separate
    # up-front job the caller never asked for.
    ranked = dup_wins.withColumn(
        "_rn", F.row_number().over(first_w)
    ).localCheckpoint(eager=False)
    # Elected first occurrences (rank 1) are PROTECTED: when duplicate
    # windows overlap (periodic/repetitive text, e.g. a run of one token
    # with period < k), loser coverage ranges overlap the winner's token
    # range and would otherwise destroy the very copy keep-first elects.
    # Removal set = loser-covered tokens MINUS winner-covered tokens.
    loser_cov = (
        ranked.filter(F.col("_rn") >= 2)
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + F.lit(k - 1))
            ).alias("_ti"),
        )
        .distinct()
    )
    winner_cov = (
        ranked.filter(F.col("_rn") == 1)
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + F.lit(k - 1))
            ).alias("_ti"),
        )
        .distinct()
    )
    covered = loser_cov.join(winner_cov, ["_id", "_ti"], "left_anti")
    toks_pos = base.select(
        "_id", F.posexplode("_toks").alias("_t0", "_tok")
    ).withColumn("_ti", F.col("_t0") + 1)
    kept = toks_pos.join(covered, ["_id", "_ti"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_ti", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("text"),
        F.count("*").alias("_n_kept"),
    )
    sizes = base.select("_id", F.size("_toks").alias("_n_toks"))
    return (
        sizes.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.col("_n_toks").cast("long").alias("n_tokens"),
            (F.col("_n_toks") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    resolution: int = 1 << 20,
) -> DataFrame:
    """Source-mixture reweighting — the pretraining data-mixing step:
    given target mixture ``weights`` (source -> share of the final
    token budget), scale the corpus to the LARGEST budget achievable
    without upsampling any source (K = min_s tokens_s / w_s), derive a
    per-source keep fraction, and keep documents by a deterministic
    portable hash of their id (engine-reproducible, no rand()).

    Everything stays in the plan: per-source token totals (one agg of
    the weighted sources only), the scalar K via a broadcast of the
    tiny totals table, and a map-side hash filter — the corpus-sized
    scan is filtered in place, no per-row shuffle beyond the summary
    aggregate. Keep decisions use floor(frac * resolution) integer
    thresholds against hash60(id) % resolution, so the sampled set is
    exact and portable across engines.

    Returns the per-source audit summary
    (source, n_docs, n_tokens, threshold) of the SAMPLED corpus; the
    sampled rows themselves come from the companion
    :func:`mixture_sample_rows`, which shares this exact threshold
    derivation (same hash, same integer bounds) so summary and sample
    can never disagree."""
    kept = _mixture_kept(df, weights, text_col, source_col, id_col, resolution)
    return kept.groupBy(F.col("_src").alias(source_col)).agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("n_tokens"),
        F.first("_thr").alias("threshold"),
    )


def mixture_sample_rows(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    resolution: int = 1 << 20,
) -> DataFrame:
    """The SAMPLED CORPUS itself — full original rows of the documents
    :func:`mixture_sample` keeps (that function returns only the audit
    summary). One extra semi-join of the corpus to the kept id set; the
    keep decision is the identical deterministic hash threshold, so
    downstream training reads exactly the mixture the summary reports."""
    kept_ids = _mixture_kept(
        df, weights, text_col, source_col, id_col, resolution
    ).select(F.col("_id").alias(id_col))
    return df.join(kept_ids, on=id_col, how="left_semi")


def _mixture_kept(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str,
    source_col: str,
    id_col: str,
    resolution: int,
) -> DataFrame:
    """Shared keep-derivation for mixture_sample / mixture_sample_rows:
    (_id, _src, _ntok, _thr) rows of the kept documents."""
    from eclipse_spark.functions.scalar import portable_hash60

    src = F.col(source_col)
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    base = df.filter(src.isin(*weights.keys())).select(
        F.col(id_col).alias("_id"),
        src.alias("_src"),
        F.size(tokens(F.col(text_col))).alias("_ntok"),
    )
    totals = base.groupBy("_src").agg(F.sum("_ntok").alias("_tot"))
    w_of = wmap[F.col("_src")]
    k_scalar = totals.select(
        F.min(F.col("_tot").cast("double") / w_of).alias("_k")
    )
    thresholds = (
        totals.crossJoin(F.broadcast(k_scalar))
        .select(
            "_src",
            F.floor(
                F.least(
                    F.lit(1.0), w_of * F.col("_k") / F.col("_tot").cast("double")
                )
                * resolution
            ).alias("_thr"),
        )
    )
    return (
        base.join(F.broadcast(thresholds), "_src")
        .filter(
            F.pmod(portable_hash60(F.md5(F.col("_id").cast("string")), 0), F.lit(resolution))
            < F.col("_thr")
        )
    )


def hashed_ngram_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    buckets: int = 1 << 12,
    portable: bool = False,
) -> DataFrame:
    """Linear quality-classifier scoring over hashed n-gram features —
    the fastText-style filter of pretraining pipelines (score a doc by
    summing learned weights of its hashed word n-grams; threshold
    downstream). ``weights`` is a (bucket, weight) table: the model is
    DATA, not code, so any trained linear model drops in.

    Scale shape: the weight table is ``buckets`` rows (KBs-MBs) and
    BROADCASTS; the corpus side explodes n-grams, buckets them with
    one hash, and map-side-combines into per-doc sums — the only
    corpus-sized shuffle carries (id, partial sum). Weights are
    quantized to decimal(16,9) ONCE here at model load (never
    per-term), and scores accumulate in decimal, so results are
    partition-order-exact. For bit-exact CROSS-ENGINE oracles the
    weights table should already carry decimal values (model-as-data
    stored in decimal): quantizing a double weight independently in
    two engines can disagree at representation boundaries, quantizing
    the stored decimal cannot. (The sigmoid/threshold is the
    caller's — exp() rounding is libm-dependent, a raw linear score
    is not.)

    Returns (id_col, n_grams, score). ``portable=True`` buckets with
    the md5-derived hash so an external SQL oracle replays scoring
    bit-for-bit."""
    grams = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    ).select(
        "_id",
        F.explode(word_shingles_raw(F.col("_toks"), n)).alias("_g"),
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        b = F.pmod(portable_hash60(F.md5("_g"), 0), F.lit(buckets))
    else:
        b = F.pmod(F.xxhash64("_g"), F.lit(buckets))
    bucketed = grams.select("_id", b.alias("bucket"))
    # model-load-time quantization: decimal weights pass through
    # exactly; double weights take ONE HALF_UP cast here, not a
    # per-term round in every engine that replays the scoring
    w = weights.select("bucket", F.col("weight").cast("decimal(16,9)").alias("_w"))
    return (
        bucketed.join(F.broadcast(w), "bucket", "left")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_w"), F.lit(0).cast("decimal(16,9)")))
            .cast("double")
            .alias("score"),
        )
    )


def bpe_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Apply a trained BPE vocabulary to the corpus — the encode half
    of the tokenizer story (bpe_train learns merges over the
    vocabulary; this replays them over every document): each token is
    replaced by its trained symbol sequence via a vocab join, and the
    document reassembles in token order. Tokens absent from the vocab
    fall back to character symbols (space-joined), the standard OOV
    rule.

    Scale shape: the corpus-side work is one explode + one (id)
    aggregate; the vocab is Heaps-law small relative to the corpus, so
    it BROADCASTS by default and encoding is map-side (set
    ``broadcast_vocab=False`` to let the optimizer plan a shuffle join
    for giant vocabularies). No per-document merge folds — the fold
    ran once per vocabulary WORD at train time.

    Returns (id_col, n_tokens, n_syms, encoded)."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_w")
    )
    v = vocab.select(F.col("word").alias("_w"), F.col("syms").alias("_syms"))
    if broadcast_vocab:
        v = F.broadcast(v)
    char_fallback = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.length("_w")),
            lambda i: F.substring(F.col("_w"), i, F.lit(1)),
        ),
    )
    joined = toks.join(v, "_w", "left").select(
        "_id",
        "_pos",
        F.coalesce(F.col("_syms"), char_fallback).alias("_enc"),
    )
    agg = joined.groupBy("_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.size(F.split("_enc", " "))).alias("n_syms"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_enc"))),
                lambda s: s["_enc"],
            ),
        ).alias("encoded"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_syms", F.lit(0)).cast("long").alias("n_syms"),
            F.coalesce("encoded", F.lit("")).alias("encoded"),
        )
    )


def pmi_bigrams(
    df: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level collocation extraction: the top-``k`` adjacent
    bigrams by pointwise mutual information, ``pmi = ln(p(ab) /
    (p(a) p(b)))``, restricted to bigrams seen at least ``min_count``
    times (raw PMI without a support floor surfaces hapax noise).

    Scale shape: bigrams assemble ROW-LOCALLY (two shifted slices
    zipped — no self-join, no window); then one bigram-keyed count,
    one unigram-keyed count, and two vocabulary-sized joins to attach
    the component frequencies. Probabilities divide BEFORE
    multiplying (each factor stays O(1)-magnitude, so no >2^53
    integer products whose double rounding could differ across
    engines); pmi rounds to 6 digits and the global top-k lowers to
    TakeOrdered with (pmi desc, w1, w2) tie-breaks.

    Returns (w1, w2, n_pair, pmi, rank)."""
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_p")
    ).select("_p.w1", "_p.w2")
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("_cw"))
    )
    tot = uni.agg(
        F.sum("_cw").alias("_t_uni")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    tot_b = big.agg(F.sum("n_pair").alias("_t_big"))
    scored = (
        big.filter(F.col("n_pair") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("_cw", "_c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("_cw", "_c2"), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot_b))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("_t_big"))
                    / (
                        (F.col("_c1").cast("double") / F.col("_t_uni"))
                        * (F.col("_c2").cast("double") / F.col("_t_uni"))
                    )
                ),
                6,
            ),
        )
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(k)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "w1", "w2", "n_pair", "pmi", "rank"
    )


def skipgram_pairs(
    df: DataFrame,
    window: int = 2,
    min_count: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Skip-gram (center, context) pair counts — the training-pair
    generation step of word2vec-style embedding pipelines: every
    ordered pair of tokens within ``window`` positions of each other,
    counted corpus-wide, support-filtered at ``min_count``.

    Scale shape: pairs assemble ROW-LOCALLY from shifted-slice zips
    (one forward array per distance d=1..window, then the mirror),
    one explode, one (center, context)-keyed count — no self-join on
    position, no window function, no carrying the token array through
    the explode. Returns (center, context, n_pairs)."""
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    dists = []
    for d in range(1, window + 1):
        n = F.greatest(F.size("_t") - d, F.lit(0))
        dists.append(
            F.zip_with(
                F.slice(F.col("_t"), 1, n),
                F.slice(F.col("_t"), 1 + d, n),
                lambda a, b: F.struct(a.alias("c"), b.alias("x")),
            )
        )
    fwd = F.concat(*dists) if len(dists) > 1 else dists[0]
    both = F.concat(
        fwd, F.transform(fwd, lambda s: F.struct(s.x.alias("c"), s.c.alias("x")))
    )
    return (
        toks.select(F.explode(both).alias("_p"))
        .groupBy(
            F.col("_p.c").alias("center"), F.col("_p.x").alias("context")
        )
        .agg(F.count("*").alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_count)
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic text canonicalization — the first stage of every
    dedup/tokenize pipeline: lowercase, strip every character outside
    ``[a-z0-9 \\n]``, collapse whitespace runs to single spaces, trim.
    Entirely row-local codegen regex — runs at scan speed, no shuffle.
    Emits (id, norm_text, n_chars_raw, n_chars_norm) so the
    normalization loss is auditable per document."""
    raw = F.col(text_col)
    # the charset strip KEEPS all whitespace (\s), so tabs/newlines
    # survive as separators until the collapse — words never fuse and
    # stripped punctuation can't leave double spaces behind
    stripped = F.regexp_replace(F.lower(raw), r"[^a-z0-9\s]", "")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.select(
        F.col(id_col).alias("id"),
        collapsed.alias("norm_text"),
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(collapsed).cast("long").alias("n_chars_norm"),
    )


def bigram_logprob(
    df: DataFrame,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability with add-k smoothing,
    ``ln((c(ab) + k) / (c(a) + k*V))`` — the step up from
    :func:`unigram_logprob` that actually notices word ORDER (token
    soup with a plausible unigram mix still scores low here). The
    corpus is its own LM, the standard self-scoring fluency filter.

    Scale shape mirrors unigram_logprob: one bigram count and one
    unigram count (vocabulary-sized keys), transitions re-join the
    bigram LM on the (w1, w2) key, one per-doc aggregate. V is a
    1-row aggregate cross-joined in. Per-transition log-probs round
    to 9 and accumulate in decimal; docs with <2 tokens come back
    with n_trans=0 and a NULL score (never silently dropped).
    Returns (id_col, n_trans, avg_logprob)."""
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_p"),
    ).select(F.col(id_col), "_p.w1", "_p.w2")
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("_c1"))
    )
    vsize = uni.agg(F.count("*").alias("_v"))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("_cab"))
    lm = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("_cab") + F.lit(k))
                    / (F.col("_c1") + F.lit(k) * F.col("_v"))
                ),
                9,
            )
            .cast("decimal(16,9)")
            .alias("_lp"),
        )
    )
    scored = (
        pairs.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trans"),
            F.round(F.sum("_lp").cast("double") / F.count("*"), 9).alias(
                "avg_logprob"
            ),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_trans", F.lit(0)).cast("long").alias("n_trans"),
            "avg_logprob",
        )
    )


def collapse_repeated_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document consecutive-duplicate-line removal — the
    self-repetition cleaner of a pretraining pipeline (boilerplate
    navigation blocks, stuttering crawls, template spam repeat the
    SAME line back to back; cross-corpus span dedup
    (:func:`span_dedup`) deliberately does not touch them because the
    repeats live inside one document).

    Pure row-local codegen: split to lines, keep line i iff i == 0 or
    it differs from line i-1 (an indexed ``filter`` lambda reading the
    previous element — no explode, no shuffle, no window; the whole
    operator is a map stage that scales embarrassingly). Returns
    ``id_col``, cleaned ``text``, ``n_lines_in``, ``n_lines_out``,
    ``n_removed``."""
    # bind the split ONCE as a column the lambda references by name —
    # inlining `split(...)` inside the filter lambda re-evaluates the
    # split per element (O(L^2) per doc; measured 14.6 s vs 1.3 s at
    # sf0.1 on the inlined form)
    with_lines = df.withColumn("_lines", F.split(F.col(text_col), r"\n"))
    # element_at is 1-based, the filter lambda index 0-based: at index
    # i the previous element is element_at(_lines, i)
    kept = F.expr("filter(_lines, (x, i) -> i = 0 OR x != element_at(_lines, i))")
    return with_lines.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("text"),
        F.size(F.col("_lines")).cast("long").alias("n_lines_in"),
        F.size(kept).cast("long").alias("n_lines_out"),
        (F.size(F.col("_lines")) - F.size(kept)).cast("long").alias("n_removed"),
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor row gets ``k`` pseudo-random OTHER rows as negatives,
    reproducibly (same corpus + seed -> same pairs on any engine,
    any partitioning — no ``rand()``, the same discipline as
    :func:`mixture_sample` / dataset_split).

    Mechanics: rows are densely indexed 0..n-1 by a global id-ordered
    row_number (one total-order window — at 100 TB swap for a
    zipWithIndex-style per-partition offset scan; the rest of the plan
    is unchanged), each (anchor, j) draws ``idx = hash60(id:j:seed)
    % n`` from the portable hash family, self-draws bump to the next
    index (deterministic, bias 1/n), and one equi-join on the index
    resolves negative ids. Output (anchor, j, neg) rows; the join is
    the only shuffle beyond the indexing sort."""
    from eclipse_spark.functions.scalar import portable_hash60

    indexed = df.select(F.col(id_col).alias("_id")).withColumn(
        "_idx", F.row_number().over(Window.orderBy("_id")) - 1
    )
    n = indexed.agg(F.count("*").alias("_n"))
    draws = (
        indexed.crossJoin(F.broadcast(n))
        .select(
            "_id",
            "_idx",
            "_n",
            F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("j"),
        )
        .withColumn(
            "_draw",
            F.pmod(
                portable_hash60(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("_id").cast("string"),
                            F.col("j").cast("string"),
                            F.lit(int(seed)).cast("string"),
                        )
                    )
                ),
                F.col("_n"),
            ),
        )
        .withColumn(
            "_neg_idx",
            F.when(F.col("_draw") == F.col("_idx"),
                   F.pmod(F.col("_draw") + 1, F.col("_n"))).otherwise(F.col("_draw")),
        )
    )
    negs = indexed.select(F.col("_idx").alias("_neg_idx"), F.col("_id").alias("neg"))
    return (
        draws.join(negs, "_neg_idx")
        .select(
            F.col("_id").alias("anchor"),
            F.col("j").cast("long").alias("j"),
            F.col("neg"),
        )
    )


# ---------------------------------------------------------------------------
# round-7 additions: Gopher rule verdicts, feature hashing
# (the rule METRICS live in quality_stats / repetition_stats above;
# this layer turns them into the MassiveText accept/reject flags)
# ---------------------------------------------------------------------------

# Gopher/MassiveText quality rules (Rae et al. 2021, §A1.1), the subset
# meaningful for single-line corpora; the line-shape rules (bullet /
# ellipsis fractions) live in quality_stats' ratio columns instead.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MIN_ALPHA_FRACTION = 0.8  # fraction of words containing a letter
GOPHER_MIN_STOPWORDS = 2  # distinct stop-words required


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher rule verdicts — the MassiveText quality
    filter (Rae et al. 2021) as ONE codegen projection: word-count
    window, mean-word-length window, alphabetic-word fraction, and
    distinct-stop-word presence, each as an integer flag plus the
    underlying counts, and the AND of all rules as ``pass_gopher``.

    Engine-exactness: every flag is an INTEGER comparison on integer
    counts (``3*n <= sum_chars <= 10*n`` instead of a float mean
    threshold; ``5*n_alpha >= 4*n_tokens`` instead of ``>= 0.8``), so
    verdicts cannot flip on IEEE rounding in any engine; the exposed
    ``mean_word_len`` is informational (round 6).

    Scale shape: pure per-row projection — no shuffle, no UDF; the
    stop-word probe is an array_intersect against an 10-element
    literal array. Returns (id, n_tokens, n_word_chars, mean_word_len,
    n_alpha_tokens, n_stop_distinct, r_wordcount, r_meanlen, r_alpha,
    r_stop, pass_gopher)."""
    en_stop = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    toks = F.col("_toks")  # split bound ONCE (four consumers below)
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        ).alias("n_word_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("n_alpha_tokens"),
        F.size(F.array_intersect(F.array_distinct(toks), en_stop)).alias(
            "n_stop_distinct"
        ),
    )
    n, s = F.col("n_tokens"), F.col("n_word_chars")
    r_wc = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_ml = (n > 0) & (s >= GOPHER_MIN_MEAN_WORD_LEN * n) & (
        s <= GOPHER_MAX_MEAN_WORD_LEN * n
    )
    r_al = (n > 0) & (F.col("n_alpha_tokens") * 5 >= n * 4)
    r_st = F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS
    return base.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        s.cast("long").alias("n_word_chars"),
        F.when(n > 0, F.round(s.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.col("n_alpha_tokens").cast("long").alias("n_alpha_tokens"),
        F.col("n_stop_distinct").cast("long").alias("n_stop_distinct"),
        r_wc.cast("int").alias("r_wordcount"),
        r_ml.cast("int").alias("r_meanlen"),
        r_al.cast("int").alias("r_alpha"),
        r_st.cast("int").alias("r_stop"),
        (r_wc & r_ml & r_al & r_st).cast("int").alias("pass_gopher"),
    )


def feature_hash(
    df: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Hashing-trick featurization: each token maps to
    ``hash(token) % n_buckets`` and documents become sparse
    (id, bucket, n) count vectors — the unbounded-vocabulary
    featurizer (Weinberger et al. 2009) that needs NO fitted
    dictionary, so it runs identically on shard 1 and shard 10^6 of a
    100 TB corpus (no vocab broadcast, no OOV).

    ``portable=True`` uses the md5-derived 60-bit hash so an external
    SQL oracle reproduces every bucket id bit-for-bit; the default is
    xxhash64 (cheaper, same distribution quality).

    Scale shape: one token explode + one (id, bucket) map-side-combined
    count — no joins, nothing broadcast. Returns (id, bucket, n)."""
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    if portable:
        from eclipse_spark.functions.scalar import portable_hash60

        h = portable_hash60(F.md5("_tok"), 0)
    else:
        h = F.xxhash64("_tok")  # pmod below handles the negative half
    return (
        ex.withColumn("bucket", F.pmod(h, F.lit(n_buckets)).cast("int"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
