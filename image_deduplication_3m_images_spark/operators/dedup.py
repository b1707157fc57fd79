"""Stand-alone dedup operators beyond the LSH pipeline: exact hash dedup,
SimHash-block dedup, n-gram Jaccard pairs.  These are the training-data-
pipeline primitives a 100 TB corpus job composes (exact pass first — it is
nearly free — then MinHash-LSH for near-dups).

Reference analog: stage 1 alone was sometimes used as an exact-ish dedup
(identical wavelet hash == identical band keys); here exact dedup is a
groupBy on sha256(text) — one shuffle, fully codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.functions.text import (
    sha256_expr,
    tokens_expr,
    word_ngrams_window_expr,
)
from image_deduplication_3m_images_spark.operators.lsh import _bucket_pairs_expr


def exact_duplicates(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, text_sha256, cluster_id, cluster_size, is_best).

    cluster_id = min id sharing the hash; is_best = that min id (deterministic).
    Single hash-shuffle on the 64-hex sha; at 100 TB this is the cheapest pass
    and removes the bulk of duplicates before any MinHash work.
    """
    hashed = df.select(
        F.col("doc_id"), sha256_expr(F.col("text")).alias("text_sha256")
    )
    w = Window.partitionBy("text_sha256")
    return hashed.select(
        "doc_id",
        "text_sha256",
        F.min("doc_id").over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_best"),
    )


def _hamming_chunks_expr(hash_col: str, radius: int):
    """THE pigeonhole chunk layout, shared by the profile and the operator:
    radius+1 chunks covering all 64 bits (last chunk takes the remaining
    high bits).  One definition — a divergence between the profile's and
    the operator's layout would let a stale ``max_bucket_hint`` disable the
    skew guard on a bucket the operator actually builds."""
    n_chunks = radius + 1
    width = 64 // n_chunks

    def chunk_expr(i: int):
        bits = 64 - width * i if i == n_chunks - 1 else width
        shifted = F.shiftright(F.col(hash_col), width * i)
        if bits >= 64:
            # radius=0 degenerate case: the single chunk is the whole hash.
            # (1<<64)-1 overflows LongType; the all-ones long is -1, and
            # masking with it is the identity — skip it.
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    return F.array(*[chunk_expr(i) for i in range(n_chunks)])


def hamming_bucket_stats(
    df: DataFrame, hash_col: str, radius: int = 3
) -> DataFrame:
    """Chunk-bucket profile for the pigeonhole blocking below: one row with
    the max bucket size.  Callers pass it to ``hamming_block_pairs`` as
    ``max_bucket_hint`` so clean corpora skip the tier machinery entirely
    (the same stats-driven plan choice as ``operators/lsh.py``; the profile
    doubles as the lineage/metrics record, so skew handling is never
    silent)."""
    df = df.where(F.col(hash_col).isNotNull())
    chunks = _hamming_chunks_expr(hash_col, radius)
    return (
        df.select(F.posexplode(chunks).alias("chunk_id", "chunk"))
        .groupBy("chunk_id", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("max_bucket"))
    )


def hamming_block_pairs(
    df: DataFrame, hash_col: str, id_col: str, radius: int = 3,
    bucket_cap: int = 256, max_bucket_hint: int | None = None,
) -> DataFrame:
    """Candidate pairs within Hamming ``radius`` of a 64-bit hash column, by
    pigeonhole chunk blocking: hamming <= h implies at least one of h+1
    equal chunks, so splitting the hash into h+1 chunks and bucketing on
    (chunk_id, chunk) finds every qualifying pair WITHOUT an all-pairs scan.
    Exact bit_count filter afterwards removes chunk-collision false
    positives.  Returns (id_a, id_b, hamming), distinct, hamming <= radius.

    Scale shape (same single-shuffle pattern that halved candidate_pairs in
    the LSH operator, lsh.py:92-134): one explode (x(h+1) rows of (id,
    16ish-bit chunk, hash)), ONE hash-shuffle into groupBy(chunk_id, chunk)
    with a size-bounded collect_list of (id, hash) structs, pairs expanded
    map-side by a codegen'd array expression.  Buckets over ``bucket_cap``
    (degenerate corpora — e.g. thousands of all-zero hashes) skip the
    collect and take an exact self-join restricted to those keys instead:
    unlike LSH starring, Hamming semantics need EVERY qualifying pair, so
    the hot tier trades the second shuffle for bounded executor memory
    rather than dropping pairs.  The tier split is driven by a
    map-side-combined (key, count) aggregate — tiny bytes.

    ``max_bucket_hint``: caller-supplied profile statistic (see
    ``hamming_bucket_stats``).  When it proves no bucket exceeds
    ``bucket_cap``, the stats shuffle + tier join + branch union are
    skipped entirely — one groupBy, one pair expansion (the same
    statistics-driven plan selection ``candidate_pairs`` uses).
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    # NULL hashes would sail past the hot-tier split (the stats equality
    # join never matches a null chunk, so a million null-hash rows would
    # all land in ONE unbounded collect_list) and their pairs are discarded
    # by the bit_count filter anyway — drop them up front
    df = df.where(F.col(hash_col).isNotNull())
    chunks = _hamming_chunks_expr(hash_col, radius)
    blocks = df.select(
        F.col(id_col), F.col(hash_col).alias("h"),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    )

    # small buckets: collect_list bounded by bucket_cap, pairs expanded by
    # the LSH stage's codegen'd (i < j) array expression — sort_array on
    # (id, h) structs orders by id, so id_a < id_b holds by construction
    members = F.sort_array(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("h")))
    ).alias("members")

    def _expand(grouped: DataFrame) -> DataFrame:
        return grouped.select(
            F.explode(_bucket_pairs_expr(F.col("members"))).alias("p")
        ).select(
            F.col("p.id_a.id").alias("id_a"), F.col("p.id_a.h").alias("h_a"),
            F.col("p.id_b.id").alias("id_b"), F.col("p.id_b.h").alias("h_b"),
        )

    if max_bucket_hint is not None and max_bucket_hint <= bucket_cap:
        # profile-proven clean corpus: one shuffle, no tier machinery
        pairs = _expand(blocks.groupBy("chunk_id", "chunk").agg(members))
        return pairs.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        ).where(F.col("hamming") <= radius).dropDuplicates(["id_a", "id_b"])

    stats = blocks.groupBy("chunk_id", "chunk").agg(
        F.count(F.lit(1)).alias("bucket_size")
    ).where(F.col("bucket_size") > bucket_cap)
    tiered = blocks.join(stats, ["chunk_id", "chunk"], "left")

    small_pairs = _expand(
        tiered.where(F.col("bucket_size").isNull())
        .groupBy("chunk_id", "chunk")
        .agg(members)
    )

    hot = tiered.where(F.col("bucket_size").isNotNull())
    a = hot.select(
        "chunk_id", "chunk", F.col(id_col).alias("id_a"), F.col("h").alias("h_a")
    )
    b = hot.select(
        "chunk_id", "chunk", F.col(id_col).alias("id_b"), F.col("h").alias("h_b")
    )
    hot_pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "h_a", "id_b", "h_b")
    )

    return (
        small_pairs.unionByName(hot_pairs)
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, prefilter_broadcast: bool = False
) -> DataFrame:
    """Exact token 3-gram Jaccard for given candidate pairs (never all-pairs)
    over a (doc_id, text) frame.

    Returns integer intersection/union sizes (float-drift-free for the oracle)
    plus the ratio.  Set semantics: distinct n-grams per doc.

    ``prefilter_broadcast``: broadcast the pair-id set and LEFT SEMI filter
    the corpus BEFORE building gram arrays — the n-gram expression chain
    (sequence + transform + concat_ws + array_distinct per doc) then runs
    only for docs that actually appear in a pair, and the corpus-wide gram
    arrays never enter a shuffle.  OPT-IN (default False): an unconditional
    broadcast of an unbounded pair set risks OOM, so callers enable it only
    when the pair set is known/measured small.
    """
    if prefilter_broadcast:
        ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .dropDuplicates(["doc_id"])
        )
        df = df.join(F.broadcast(ids), "doc_id", "leftsemi")
    toks = tokens_expr(F.col("text"))
    n_toks = F.size(toks)
    grams = F.when(
        n_toks >= 3,
        F.array_distinct(word_ngrams_window_expr(toks, 3)),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    gdf = df.select(F.col("doc_id"), grams.alias("grams"))
    a = gdf.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = gdf.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return joined.select(
        "id_a",
        "id_b",
        inter.alias("n_intersect"),
        union.alias("n_union"),
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals.

    (doc_id, text) -> (doc_id, n_tokens, n_distinct, n_bigrams, top_bigram_count,
    dup_token_frac, top_bigram_frac).  ``dup_token_frac`` is the fraction of
    tokens that are repeats of an earlier token (1 - distinct/total);
    ``top_bigram_frac`` is the share of all word bigrams taken by the most
    frequent one — the two cheapest of the Gopher repetition filters
    (Rae et al. 2021, table A1) and the standard pre-LSH quality gate in a
    web-corpus pipeline.

    Scale shape (round 6): ZERO shuffles — every output is a per-row
    codegen expression.  The mode of a doc's bigram multiset equals the
    longest equal-run in the SORTED bigram array, so ``top_bigram_count``
    is one `aggregate` fold over `sort_array(bigrams)` with a
    (prev, run, best) struct accumulator — per-row O(n log n) on n ≈
    doc-token counts, instead of exploding every bigram of the corpus into
    a two-level groupBy (the previous shape shuffled one row per bigram
    occurrence corpus-wide, then joined back; at 100 TB that is a shuffle
    proportional to the token count of the corpus, for a statistic each
    row can compute locally).  Fractions are emitted as plain IEEE
    divisions (no rounding) so the DuckDB oracle reproduces them
    bit-for-bit — the oracle still computes the mode the explode/groupBy
    way, which is exactly what makes this rewrite oracle-checked.
    """
    toks = tokens_expr(F.col("text"))
    base = df.select(F.col("doc_id"), toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
        "toks",
    )
    # total expression (empty array below 2 tokens, like word_ngrams_expr):
    # the window formula is only valid for size >= n, and guarding at the
    # CONSUMING expression is not enough — subexpression elimination may
    # hoist a shared subtree above its CASE WHEN and evaluate it eagerly
    sorted_bigrams = F.sort_array(
        F.when(
            F.size("toks") >= 2, word_ngrams_window_expr(F.col("toks"), 2)
        ).otherwise(F.expr("CAST(array() AS array<string>)"))
    )
    # longest equal-run in the sorted array == max multiplicity of any
    # bigram; fold state: (prev value, current run, best run)
    best_run = F.aggregate(
        sorted_bigrams,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, b: F.struct(
            b.alias("prev"),
            F.when(acc["prev"].isNotNull() & (acc["prev"] == b), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(
                    acc["prev"].isNotNull() & (acc["prev"] == b), acc["run"] + 1
                ).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_tok_d = F.col("n_tokens").cast("double")
    n_bigrams = F.when(
        F.col("n_tokens") >= 2, (F.col("n_tokens") - 1).cast("int")
    ).otherwise(F.lit(0))
    top_count = best_run.cast("int")  # empty bigram array folds to 0
    return base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        n_bigrams.alias("n_bigrams"),
        top_count.alias("top_bigram_count"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) - F.col("n_distinct").cast("double") / n_tok_d)
        .alias("dup_token_frac"),
        F.when(F.col("n_tokens") < 2, F.lit(0.0))
        .otherwise(
            top_count.cast("double") / n_bigrams.cast("double")
        )
        .alias("top_bigram_frac"),
    )


def boilerplate_ngrams(df: DataFrame, n: int = 5, min_docs: int = 3) -> DataFrame:
    """C4-style cross-document boilerplate detection: word ``n``-grams that
    occur in at least ``min_docs`` DISTINCT documents (navigation chrome,
    cookie banners, license footers).  (corpus) -> (ngram, n_docs,
    n_occurrences), the removal list a training-data pipeline anti-joins
    against before tokenization (Raffel et al. 2020 §2.2 dropped any
    three-sentence span seen more than once; the n-gram form is the
    word-level equivalent).

    Scale shape: explode to (id, ngram) rows, then TWO explicit hash
    aggregations — per (ngram, id) first, per ngram second — so map-side
    partial aggregation applies at both levels and no countDistinct expand
    is ever planned; only (8-byte id, n-token string) rows shuffle, the text
    column never does.  At 100 TB the ngram strings would be fingerprinted
    to 8-byte hashes before the exchange (same trick as the LSH band keys);
    kept as strings here so the output is directly greppable/joinable.
    """
    toks = tokens_expr(F.col("text"))
    toked = df.select(F.col("doc_id"), toks.alias("toks")).where(F.size("toks") >= n)
    grams = toked.select(
        "doc_id",
        F.explode(word_ngrams_window_expr(F.col("toks"), n)).alias("ngram"),
    )
    return (
        grams.groupBy("ngram", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("c").cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
