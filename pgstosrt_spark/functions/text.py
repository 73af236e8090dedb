"""Text analysis operators: tokenization, language-ID, quality scoring,
token counting, document fingerprinting.

Cross-engine-deterministic by construction: every expression here has an
exact ANSI-SQL equivalent (DuckDB oracle in __spark_entry__.py), so the
driver's value-hash comparison holds bit-for-bit.  No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens_col",
    "ngrams_col",
    "token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "repetition_ratio",
    "tfidf_top_terms",
    "chunk_documents",
    "contamination_check",
    "pack_sequences",
    "pii_scrub",
    "dataset_manifest",
    "vocab_top_tokens",
    "training_set_chunks",
    "training_set_packed",
    "STOPWORDS",
]

# deterministic tokenizer shared with the oracle SQL: lowercase, split on
# non-alphanumeric runs, drop empties
_TOKEN_SPLIT = "[^a-z0-9]+"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def tokens_col(col: str = "text") -> Column:
    return F.filter(
        F.split(F.lower(F.col(col)), _TOKEN_SPLIT), lambda x: x != F.lit("")
    )


def ngrams_col(n: int, col: str = "text") -> Column:
    """RAW (non-distinct) word n-grams, in token order, as an array column
    (pure F.*): the one n-gram builder behind shingles, contamination and
    the hashed embedding.

    Built by zip_with over n shifted slices of the token array — each
    slice is evaluated ONCE per row and the per-element lambda is a flat
    string concat.  The transform-over-positions formulation called
    ``slice(toks, i, n)`` inside the lambda, an O(tokens) copy per
    position (quadratic per doc) evaluated on Spark's interpreted HOF
    path: 4.6s -> 0.9s for the sf0.1 shingle explode.  Output strings and
    order are identical.  Guarded for short docs (< n tokens -> empty
    array; greatest(...) keeps the slice length non-negative for ANSI).
    """
    toks = tokens_col(col)
    n_sh = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, n_sh) for i in range(n)]
    combined = parts[0]
    for p in parts[1:]:
        combined = F.zip_with(combined, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(toks) >= n, combined).otherwise(
        F.array().cast("array<string>")
    )


def token_count(df: DataFrame, col: str = "text") -> DataFrame:
    """doc_id, n_tokens, n_chars — whitespace/regex token counting."""
    return df.select(
        "doc_id",
        F.size(tokens_col(col)).alias("n_tokens"),
        F.length(F.col(col)).alias("n_chars"),
    )


def _stopword_ratio(toks: Column) -> Column:
    in_set = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.round(in_set / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Length / punctuation / stopword heuristics -> a [0,1] quality score.

    score = 0.4*len_ok + 0.3*stopword_ok + 0.3*punct_ok, where len_ok is a
    50..5000-char band, stopword_ok wants ratio >= 0.02 (prose-like), and
    punct_ok wants < 10% punctuation.  All components are exposed so
    downstream filters can recombine.
    """
    toks = tokens_col(col)
    n_chars = F.length(F.col(col))
    punct = F.length(F.regexp_replace(F.col(col), "[^.,:;!?]", ""))
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = _stopword_ratio(toks)
    len_ok = (n_chars >= 50) & (n_chars <= 5000)
    stop_ok = stop_ratio >= 0.02
    punct_ok = punct_ratio < 0.10
    score = F.round(
        len_ok.cast("double") * 0.4
        + stop_ok.cast("double") * 0.3
        + punct_ok.cast("double") * 0.3,
        2,
    )
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic: 'en' when English stopwords make
    up >= 2% of tokens, else 'xx'.  (An n-gram model plugs into the same
    shape; the driver corpus shares one vocabulary across its lang labels,
    so the heuristic is exercised for determinism, not label recovery.)"""
    toks = tokens_col(col)
    return df.select(
        "doc_id",
        F.when(_stopword_ratio(toks) >= 0.02, F.lit("en"))
        .otherwise(F.lit("xx"))
        .alias("pred_lang"),
    )


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercase text (md5 agrees across Spark and DuckDB)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(col)), "\\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def repetition_ratio(df: DataFrame, col: str = "text") -> DataFrame:
    """doc_id, n_bigrams, top_bigram_frac — Gopher-style repetition signal.

    top_bigram_frac = occurrences of the most frequent word bigram /
    total bigrams; templated or looped text scores high and gets filtered.
    Physical shape: two shifted slices zipped into NON-distinct bigrams
    (count multiplicity is the signal, unlike the dedup shingles) ->
    explode -> (doc, bigram) count -> per-doc max/sum — map-side partial
    aggregation collapses each doc before both shuffles, and nothing is
    ever wider than (doc_id, bigram, count).  Docs with < 2 tokens emit
    frac 0.0 via explode_outer + coalesce.
    """
    toks = tokens_col(col)
    n_big = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_big),
        F.slice(toks, 2, n_big),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    per_bigram = (
        df.select("doc_id", F.explode_outer(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.col("bg")).alias("cnt"))
    )
    return per_bigram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.round(
            F.coalesce(F.max("cnt") / F.greatest(F.sum("cnt"), F.lit(1)), F.lit(0.0)),
            6,
        ).alias("top_bigram_frac"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 5, col: str = "text") -> DataFrame:
    """Per-doc top-k terms by tf-idf: (doc_id, token, tf, score, rnk).

    idf is the RATIONAL variant (N + 1) / (df + 1) — deliberately ln-free:
    a log makes the score depend on libm's last-ulp behavior and so can
    flip a near-tie rank between engines; tf * (N+1) is an exact integer
    and the single division is IEEE-identical everywhere, which is what
    lets the DuckDB twin check values AND ranks exactly.  (Swap in
    log((N+1)/(df+1)) + 1 when absolute score scale matters more than
    cross-engine determinism — ranks are monotone-identical either way
    for fixed tf, and classic BM25-ish pipelines re-scale anyway.)

    Scale shape: explode tokens -> (doc, token) count (map-side combined)
    -> token-keyed df aggregate (vocab-sized, far smaller than the corpus)
    joined back on token — left to AQE: broadcastable for bounded vocabs,
    shuffle join for web-scale vocab (10^8+ distinct tokens at 10^12
    docs, above any broadcast threshold) -> per-doc top-k window over the
    doc's DISTINCT tokens only (bounded by doc length, never corpus-wide).
    N (corpus doc count) rides in as a broadcast one-row aggregate, not a
    driver collect, so the whole plan stays lazy/declarative.
    """
    from pyspark.sql import Window

    toks = df.select("doc_id", F.explode(tokens_col(col)).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("int").alias("tf"),
            F.round("score", 6).alias("score"),
            "rnk",
        )
    )


def chunk_documents(
    df: DataFrame, window: int = 32, stride: int = 24, col: str = "text"
) -> DataFrame:
    """Split each document into overlapping fixed-token-window training
    chunks — the standard LLM pre-training sample cutter.

    chunk i covers tokens [i*stride, i*stride + window); the last chunk
    may be short; empty docs yield no chunks.  Everything is pure F.*
    array math (tokens -> sequence of starts -> posexplode -> slice ->
    array_join): narrow, whole-stage-codegen, no shuffle at all — the
    output inherits the input partitioning, which is exactly what a
    100 TB corpus cutter needs (chunking is embarrassingly parallel;
    the only data movement is the write).
    """
    toks = tokens_col(col)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride),
    )
    base = df.select(
        "doc_id", toks.alias("_toks"),
        F.when(F.size(toks) > 0, starts).otherwise(
            F.array().cast("array<int>")
        ).alias("_starts"),
    )
    exploded = base.select(
        "doc_id",
        "_toks",
        F.posexplode("_starts").alias("chunk_id", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, window)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def contamination_check(
    df: DataFrame, n: int = 3, modulus: int = 97, col: str = "text"
) -> DataFrame:
    """Benchmark decontamination — the eval-leak gate every training-data
    pipeline needs: for each corpus document, the fraction of its distinct
    word ``n``-gram shingles that also appear in a held-out benchmark
    slice (here the deterministic ``doc_id % modulus == 0`` slice, a
    stand-in for the real eval set a production run would broadcast in).

    Output: (doc_id, n_shingles, n_hits, contamination) for every
    non-benchmark doc with >= n tokens; ``contamination`` in [0, 1] is
    the filter signal (drop or flag above a threshold).

    Physical shape: shingles are built JVM-side (:func:`ngrams_col` — no
    UDF), de-duplicated per doc with array_distinct BEFORE the explode so
    multiplicity never inflates the ratio, then LEFT-joined against the distinct benchmark shingle set.
    The benchmark side is small by construction (1/modulus of the
    corpus, and a real eval suite is a few MB), so the planner broadcasts
    it whenever its size estimate is under
    ``spark.sql.autoBroadcastJoinThreshold`` (and AQE re-plans to a
    broadcast once the runtime size is known): the probe side then never
    shuffles — the only exchanges are the benchmark side's distinct and
    the final per-doc count aggregation, with map-side partial combine
    collapsing each doc's shingles before it.  At 100 TB that is one
    narrow pass over the corpus plus a broadcast hash join.  There is no
    forced broadcast hint: a benchmark set too large to broadcast falls
    back to a shuffle join instead of failing on executor memory.
    """
    shingles = F.array_distinct(ngrams_col(n, col))
    ex = df.select("doc_id", F.explode(shingles).alias("s"))
    bench = (
        ex.filter(F.col("doc_id") % modulus == 0)
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    probe = ex.filter(F.col("doc_id") % modulus != 0)
    joined = probe.join(bench, "s", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("_hit").alias("n_hits"),
        F.round(
            F.count("_hit") / F.count("*"), 6
        ).alias("contamination"),
    )


def pack_sequences(
    df: DataFrame, budget: int = 256, col: str = "text"
) -> DataFrame:
    """Token-budget sequence packing — assign documents to fixed-budget
    training packs (the pre-batching step that turns a corpus into
    ~budget-token concatenation groups for an LLM data loader).

    Contiguous first-fit within each ``source`` shard in doc_id order:
    pack_id = floor(exclusive-prefix-sum(n_tokens) / budget): a doc joins
    the pack its *starting* offset falls in (prefix-quotient grouping), so
    a pack closes once the running total crosses the budget and the doc
    that crosses it stays in the pack.  An oversized doc therefore shares
    a pack with the docs before it; it only pushes the next doc's pack id
    forward (ids can skip, e.g. 1 -> 4).  Deterministic and order-stable,
    so re-runs produce identical packs.

    Scale note: packing is inherently sequential *within* a shard — the
    prefix sum is the whole semantics — so the parallel unit must be the
    shard, never the corpus.  Partitioning by ``source`` (in production:
    by input file / Iceberg partition) makes each shard's running sum an
    independent window; the plan is ONE hash exchange on source plus an
    in-partition sort, and no shard's data ever crosses to another.  A
    global pack order would serialize 100 TB through one task — that
    shape is deliberately not offered.
    """
    from pyspark.sql import Window

    toks = tokens_col(col)
    base = df.select(
        "source", "doc_id", F.size(toks).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(prefix / budget).alias("pack_id"),
    )


# PII patterns shared verbatim with the DuckDB oracle: the subset of
# regex syntax that Java (Spark) and RE2 (DuckDB) interpret identically —
# char classes, bounded repeats, literal alternatives; no backrefs, no
# lookaround (RE2 has neither).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE_RE = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"


def pii_scrub(df: DataFrame, col: str = "text") -> DataFrame:
    """PII scrubbing — mask emails and phone-shaped numbers before a
    corpus leaves the pipeline, with per-doc audit counts (the redaction
    log a compliance review asks for).

    Output: (doc_id, masked_fp, n_emails, n_phones) — masked_fp is the
    md5 of the masked text (the full masked column is what a production
    sink writes; the fingerprint keeps the driver result narrow while
    still certifying every masked byte).  Entirely JVM-side regex inside
    whole-stage codegen: at 100 TB this is a pure narrow map over the
    scan — zero shuffles, zero Python — so it composes into any plan
    for free.  Patterns live in the RE2-and-Java-common regex subset so
    the DuckDB twin executes the identical automaton.
    """
    # phones are counted on the email-masked text, the text they are
    # masked in: digits inside an address ('555-123-4567@x.com') are
    # already part of an <EMAIL> and must not count as a phone too
    no_emails = F.regexp_replace(F.col(col), PII_EMAIL_RE, "<EMAIL>")
    masked = F.regexp_replace(no_emails, PII_PHONE_RE, "<PHONE>")
    n_emails = F.size(
        F.regexp_extract_all(F.col(col), F.lit(PII_EMAIL_RE), F.lit(0))
    ).cast("long")
    n_phones = F.size(
        F.regexp_extract_all(no_emails, F.lit(PII_PHONE_RE), F.lit(0))
    ).cast("long")
    return df.select(
        "doc_id",
        F.md5(masked).alias("masked_fp"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def dataset_manifest(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-source dataset manifest — the "data card" rollup published
    alongside a training set: document count, token/char volume, and
    mean quality per source shard.

    One hash aggregate over (source); every metric is an algebraic
    partial (sum/count), so map-side combine collapses each partition
    to 20 rows before the single exchange.  Reuses the exact quality
    expression from :func:`quality_score` so the manifest's numbers are
    the pipeline's numbers, not a drifted reimplementation.
    """
    toks = tokens_col(col)
    n_chars = F.length(F.col(col))
    punct = F.length(F.regexp_replace(F.col(col), "[^.,:;!?]", ""))
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = _stopword_ratio(toks)
    quality = F.round(
        ((n_chars >= 50) & (n_chars <= 5000)).cast("double") * 0.4
        + (stop_ratio >= 0.02).cast("double") * 0.3
        + (punct_ratio < 0.10).cast("double") * 0.3,
        2,
    )
    return (
        df.select(
            "source",
            F.size(toks).cast("long").alias("_nt"),
            n_chars.cast("long").alias("_nc"),
            quality.alias("_q"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.sum("_nc").alias("total_chars"),
            # exact decimal sum, ONE double division at the end: the mean
            # is order-independent, so it hash-matches across engines
            F.round(
                F.sum(F.col("_q").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_quality"),
        )
    )


def vocab_top_tokens(df: DataFrame, k: int = 1000, col: str = "text") -> DataFrame:
    """Corpus vocabulary build — the tokenizer-training primitive: global
    token counts, top-k by frequency (ties break on the token string so
    the cut is deterministic).

    Shape: explode -> hash aggregate (map-side partial combine collapses
    each partition to its distinct tokens BEFORE the one shuffle) ->
    TakeOrderedAndProject for the top-k (per-partition heaps, no global
    sort).  At 100 TB the shuffle carries (token, partial_count) pairs —
    bounded by vocabulary size per partition, not corpus size.  The rank
    window is global but runs AFTER limit(k) — k rows, never the corpus.
    """
    from pyspark.sql import Window

    toks = tokens_col(col)
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), "token")
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), "token")
            ),
        )
    )


def training_set_chunks(
    df: DataFrame,
    min_quality: float = 0.7,
    lang: str = "en",
    window: int = 32,
    stride: int = 24,
    col: str = "text",
) -> DataFrame:
    """The whole training-data story as ONE composed plan: quality filter
    -> language filter -> exact dedup (keep min doc_id per fingerprint)
    -> overlapping token-window chunks.

    Built for minimal data movement: the quality and language predicates
    are inlined into the scan projection (no self-join with a scored
    side), dedup is a single window over the content fingerprint (the
    only shuffle in the whole plan — and it moves post-filter survivors,
    not the raw corpus), and chunking is narrow.  At 100 TB: one wide
    exchange of the filtered survivors, everything else pipelined in one
    pass over the scan.  Quality/fingerprint expressions are shared with
    :func:`quality_score` / dedup's exact fingerprint so this composite
    stays oracle-identical to its stages.
    """
    toks = tokens_col(col)
    n_chars = F.length(F.col(col))
    punct = F.length(F.regexp_replace(F.col(col), "[^.,:;!?]", ""))
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = _stopword_ratio(toks)
    quality = F.round(
        ((n_chars >= 50) & (n_chars <= 5000)).cast("double") * 0.4
        + (stop_ratio >= 0.02).cast("double") * 0.3
        + (punct_ratio < 0.10).cast("double") * 0.3,
        2,
    )
    kept = df.filter(F.col("lang") == lang).filter(quality >= min_quality)
    norm = F.trim(F.regexp_replace(F.lower(F.col(col)), "\\s+", " "))
    from pyspark.sql import Window

    w = Window.partitionBy("_fp")
    canon = (
        kept.select("doc_id", col, F.md5(norm).alias("_fp"))
        .withColumn("_min", F.min("doc_id").over(w))
        .filter(F.col("_min") == F.col("doc_id"))
        .select("doc_id", col)
    )
    return chunk_documents(canon, window=window, stride=stride, col=col)


def training_set_packed(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = 32,
    min_quality: float = 0.7,
    lang: str = "en",
    window: int = 32,
    stride: int = 24,
    col: str = "text",
) -> DataFrame:
    """The full corpus-to-data-loader story in ONE plan: quality filter
    -> language filter -> exact dedup -> token-window chunks
    (:func:`training_set_chunks`) -> fixed-budget pack assignment over
    the chunks (the :func:`pack_sequences` step at chunk granularity).

    Chunks pack within ``doc_id % n_shards`` shards in (doc_id,
    chunk_id) order — deterministic, SQL-expressible, and the shard
    count is the parallelism knob: at 10^12 docs each shard's prefix
    sum is an independent window, so raising n_shards to the executor
    count keeps packing fully parallel while every pack stays a
    contiguous, reproducible slice of the chunk stream.  Plan: the
    training_set_chunks exchange (dedup fingerprint) plus ONE more hash
    exchange on the shard key — nothing else widens.
    """
    from pyspark.sql import Window

    chunks = training_set_chunks(
        df, min_quality=min_quality, lang=lang, window=window,
        stride=stride, col=col,
    )
    shard = (F.col("doc_id") % n_shards).alias("shard")
    base = chunks.select(shard, "doc_id", "chunk_id", "n_tokens")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "shard",
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.floor(prefix / budget).alias("pack_id"),
    )
