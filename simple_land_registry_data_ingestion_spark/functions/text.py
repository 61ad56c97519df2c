r"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + a BPE-ish regex), and document
fingerprinting (normalized md5 + rolling polynomial hash).

Everything is built-in column expressions (split / filter / aggregate /
regexp_count / md5) — JVM-side and codegen'd, so these run at full scan speed
over 100 TB of documents; there is no Python in the row path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import load

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic.  Order matters: ties resolve in this priority order.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "que"],
    "de": ["der", "die", "und", "das", "ist", "ein", "eine", "mit", "von", "zu"],
    "es": ["el", "la", "y", "los", "las", "un", "una", "es", "que", "de"],
}

#: BPE-ish tokenizer regex: runs of letters, runs of digits, or single
#: non-alphanumeric-non-space symbols — a cheap proxy for subword counts.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words_col(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count_col(text: Column | str) -> Column:
    return F.size(words_col(text)).cast("long")


def bpe_token_count_col(text: Column | str) -> Column:
    return F.regexp_count(F.col(text) if isinstance(text, str) else text,
                          F.lit(BPE_TOKEN_RE)).cast("long")


def stopword_hits_col(text: Column | str, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    stop = STOPWORDS[lang]
    return F.size(
        F.filter(words_col(text), lambda w: w.isin(*stop))
    ).cast("long")


def fingerprint_md5_col(text: Column | str) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key that survives reformatting."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def rolling_hash_col(text: Column | str) -> Column:
    """Polynomial rolling hash over characters: h = (h*31 + ascii(c)) % 1_000_000_007.
    A left fold via ``aggregate`` — sequential per row, parallel across rows."""
    chars = F.split(F.col(text) if isinstance(text, str) else text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1_000_000_007,
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        bpe_token_count_col("text").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every word 3-gram, slide a window of w = 4 consecutive
    hashes, keep each window's minimum — the guarantee is that any match of
    length >= w+2 grams between two documents shares at least one selected
    fingerprint, while storing only ~2/(w+1) of all hashes.

    The LOCAL selection property is what scales: every document computes
    its fingerprints from its own gram array alone (transform + slice +
    array_min, all codegen'd, zero shuffle until the final distinct), so
    the selection step is embarrassingly parallel however large the corpus;
    downstream, fingerprints feed the same groupBy-bucket machinery as
    MinHash bands.  Hash = md5 string; 'minimum' is the lexicographic min,
    a total order both engines implement identically (the classic variant
    uses integer rolling hashes — any total order preserves the guarantee).
    Documents with fewer than w+2 words have no window and emit nothing.

    Why a window form (the array-HOF form had the worst 10x slope in the
    registry, 5.76): the array-HOF form ran every md5 and every O(w) sliding-min
    INTERPRETED (higher-order-function lambdas never enter whole-stage
    codegen), which made selection the CPU bottleneck however parallel
    the layout.  This form posexplodes the words and expresses the same
    computation as three frames over ONE (doc_id, pos) sort: lead() x2
    assembles each 3-gram, md5 runs as a top-level codegen'd projection,
    and the per-window minimum is min() OVER (ROWS BETWEEN CURRENT AND
    w-1 FOLLOWING) — emitted only where lead(gram, w-1) exists, i.e.
    exactly the G-w+1 full windows of the old form.  One keyed exchange
    replaces zero, but every expression is codegen: A/B at sf0.1
    1.24 -> 0.88 s, at 10x 5.0 -> 0.95 s, rows identical.  (fan_out and
    the bound-array workaround became unnecessary with the explode.)"""
    w = 4
    docs = load(spark, sf_dir, "documents")
    ws_arr = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", F.posexplode(ws_arr).alias("pos", "word"))
    wo = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("w1", F.lead("word", 1).over(wo))
        .withColumn("w2", F.lead("word", 2).over(wo))
        .where(F.col("w2").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", "word", "w1", "w2")).alias("g"),
        )
    )
    fps = (
        grams.withColumn(
            "fp", F.min("g").over(wo.rowsBetween(0, w - 1))
        )
        # a window is FULL exactly where its last gram exists
        .withColumn("g_end", F.lead("g", w - 1).over(wo))
        .where(F.col("g_end").isNotNull())
        .select("doc_id", F.col("fp").alias("fingerprint"))
    )
    return fps.distinct()


def quality_score_col(text: Column | str = "text") -> Column:
    """The [0,1] combined quality heuristic as a 4-dp-rounded column
    expression (the same formula text_quality_score emits; see its
    docstring for the 1e-9 rounding-boundary nudge)."""
    n_tokens = token_count_col(text)
    n_chars = F.length(text).cast("double")
    nonspace = F.length(F.regexp_replace(text, r"\s+", "")).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    stop_hits = stopword_hits_col(text, "en")
    score = (
        F.least(stop_hits / n_tokens * 5.0, F.lit(1.0)) * 0.3
        + F.greatest(F.lit(0.0), 1.0 - F.abs(nonspace / n_tokens - 5.0) / 5.0) * 0.3
        + F.least(n_tokens.cast("double") / 64.0, F.lit(1.0)) * 0.2
        + (alpha / n_chars) * 0.2
        + 1e-9
    )
    return F.round(score, 4)


def text_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile quality gating: each language's quality
    threshold is its own 0.25-quantile, and a document survives when it
    scores at or above ITS language's bar.

    A single global threshold over-filters whichever language the heuristic
    scores systematically lower (the classic multilingual-pipeline bug —
    stopword-based scores are English-biased); quantile-per-language keeps
    the same retention rate everywhere.  Plan: one scan computing the
    4-dp score, one per-language exact-percentile aggregate (tiny: one row
    per language, broadcast back), one map-side comparison — no second
    scan of the corpus, no shuffle of the documents themselves."""
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score_col("text").alias("quality_score")
    )
    thr = scored.groupBy("lang").agg(
        F.round(F.percentile("quality_score", 0.25), 4).alias("lang_threshold")
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "quality_score",
            "lang_threshold",
            (F.col("quality_score") >= F.col("lang_threshold")).alias("is_kept"),
        )
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics per document: length, mean word length, stopword
    ratio, alpha ratio, and a [0,1] combined score."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = token_count_col("text")
    n_chars = F.length("text").cast("double")
    nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).cast("double")
    stop_hits = stopword_hits_col("text", "en")
    mean_word_len = nonspace / n_tokens
    stop_ratio = stop_hits / n_tokens
    alpha_ratio = alpha / n_chars
    # The 1e-9 nudge keeps the score off exact half-way rounding boundaries:
    # the components are small-integer ratios times decimal weights, which
    # regularly lands the sum EXACTLY on x.xxxx5 where Spark's and DuckDB's
    # round() tip differently.  Nudging both engines identically makes the
    # 4-dp rounding deterministic across engines.
    score = (
        F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + F.greatest(F.lit(0.0), 1.0 - F.abs(mean_word_len - 5.0) / 5.0) * 0.3
        + F.least(n_tokens.cast("double") / 64.0, F.lit(1.0)) * 0.2
        + alpha_ratio * 0.2
        + 1e-9
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-breaking (priority
    en > fr > de > es > unknown)."""
    docs = load(spark, sf_dir, "documents")
    hits = {lang: stopword_hits_col("text", lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    pred = (
        F.when(best == 0, "unknown")
        .when(hits["en"] == best, "en")
        .when(hits["fr"] == best, "fr")
        .when(hits["de"] == best, "de")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        "lang",
        *[hits[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
        pred.alias("pred_lang"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5_col("text").alias("fp_md5"),
        rolling_hash_col("text").alias("fp_rolling"),
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document — the keyword/salience step of a
    training-data pipeline (topic tagging, dedup feature weighting,
    retrieval indexing).

    tf = in-doc occurrences; df = docs containing the token;
    idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style, never negative);
    rank by ROUNDED tfidf desc then token asc, so ordering is a total order
    on values both engines agree on bit-for-bit.

    Scale shape: explode -> (doc,token) count [one shuffle] -> token-keyed
    df counts joined back (token dimension is vocabulary-sized, orders of
    magnitude smaller than the corpus — Spark broadcasts it under AQE) ->
    per-doc window for top-k.  The corpus-size scalar N rides a broadcast
    1-row join, not a driver collect."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(words_col("text")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tokens.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
    )


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the k most frequent tokens with total and
    document frequencies — the vocab-building pass before tokenizer
    training.  Global top-k plans as TakeOrderedAndProject over the token
    aggregate (per-task heaps), never a full sort."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(words_col("text")).alias("token"))
    counts = tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.col("n_total").desc(), F.col("token")).limit(100)


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: the fraction of word trigrams that are
    duplicates of an earlier trigram in the same document — the
    Gopher-style "repetition" quality signal that catches boilerplate,
    keyword stuffing, and decoding loops in training corpora.

    Pure column expressions: the trigram array is built with transform over
    an index sequence and reduced with array_distinct — no explode, no
    shuffle; the whole query is a single scan projection.  The word array
    is materialized in its OWN projection first: referencing the split
    expression directly from inside the transform lambda re-evaluates the
    split per element_at (3 re-splits per trigram, O(n^2) per document —
    measured 26 s vs 0.5 s at sf0.1).  The 1e-9 nudge before rounding
    keeps x.xxxx5 halfway cases off the boundary where Spark (half-up) and
    DuckDB (half-even) disagree."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", words_col("text").alias("ws")
    )
    ws = F.col("ws")
    n = F.size(ws)
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(ws, i),
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(tri).cast("long")
    distinct = F.size(F.array_distinct(tri)).cast("long")
    ratio = F.when(
        total > 0,
        F.round(1.0 - distinct.cast("double") / total.cast("double") + 1e-9, 4),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        total.alias("n_trigrams"),
        distinct.alias("n_distinct_trigrams"),
        ratio.alias("repetition_ratio"),
    )


def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-level bigram MLE language
    model — the KenLM-style quality signal: low perplexity = the document
    looks like the corpus; high = outlier/noise/generated junk.

    Model: p(w2|w1) = C(w1 w2) / C(w1 ·), both counted over ALL documents'
    bigram positions.  Per doc, perplexity = exp(-mean ln p) over its
    bigram occurrences.  MLE without smoothing is exact here because every
    scored bigram is by construction in the corpus (p > 0 always).

    Shape at scale: one bigram explode (shuffle on (w1,w2) and on w1 for
    the two count tables — both vocabulary-sized, far smaller than the
    corpus, so AQE broadcasts them back), then a doc-keyed mean.  The
    1e-9 nudge keeps the 4-dp rounding off engine-divergent halfway
    points; ln/exp and summation-order effects live ~10 digits below it."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", words_col("text").alias("ws")
    )
    ws = F.col("ws")
    n = F.size(ws)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = docs.select("doc_id", F.explode(bi).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = big.join(c12, ["w1", "w2"]).join(c1, "w1")
    ln_p = F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.exp(-F.avg(ln_p)) + 1e-9, 4).alias("perplexity"),
        )
    )


def text_stats_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF surface done right (SURVEY section 2.9): when text logic
    outgrows column expressions, a VECTORIZED pandas_udf (Arrow batches,
    pandas string kernels) — never a row-at-a-time Python UDF, which pays
    per-row serialization and is ~10-100x slower.

    Token semantics match token_count_col exactly (trim -> lower ->
    split on runs of whitespace), so the query stays oracle-checkable."""

    @F.pandas_udf("long")
    def n_tokens_pd(texts: pd.Series) -> pd.Series:
        return (
            texts.str.strip()
            .str.lower()
            .str.split(r"\s+", regex=True)
            .str.len()
            .astype("int64")
        )

    @F.pandas_udf("long")
    def n_alpha_pd(texts: pd.Series) -> pd.Series:
        return texts.str.count(r"[A-Za-z]").astype("int64")

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_tokens_pd("text").alias("n_tokens"),
        n_alpha_pd("text").alias("n_alpha_chars"),
    )


#: Gopher-style document filter rules: (name, min, max) over the signals
#: computed in text_gopher_filter.  A document is kept iff every rule holds.
GOPHER_RULES = {
    "n_tokens": (8.0, 2048.0),
    "mean_word_len": (2.0, 12.0),
    "alpha_ratio": (0.6, 1.0),
    "distinct_ratio": (0.3, 1.0),
    "stop_hits": (1.0, float("inf")),
}


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality filter in the style of Gopher/MassiveText rules:
    token-count bounds, mean word length, alphabetic ratio, distinct-token
    ratio, and an English-stopword floor, combined into a keep/drop verdict
    plus a comma-joined list of the rules that failed.

    One scan, all signals as column expressions over a single materialized
    word array — at 100 TB this runs at parquet-scan speed and the verdict
    column partitions the corpus for the keep/drop split writer.  The
    fail-reason string makes rejection auditable (per-rule drop counts are
    one groupBy away) — the operational shape every production corpus
    filter converges on.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", words_col("text").alias("ws")
    )
    n_tokens = F.size("ws").cast("long")
    nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).cast("double")
    n_chars = F.length("text").cast("double")
    stop = STOPWORDS["en"]
    stop_hits = F.size(F.filter(F.col("ws"), lambda w: w.isin(*stop))).cast("long")
    mean_word_len = nonspace / n_tokens
    alpha_ratio = alpha / n_chars
    distinct_ratio = F.size(F.array_distinct("ws")).cast("double") / n_tokens

    lo, hi = GOPHER_RULES["n_tokens"]
    ok_tokens = (n_tokens >= lo) & (n_tokens <= hi)
    lo, hi = GOPHER_RULES["mean_word_len"]
    ok_word_len = (mean_word_len >= lo) & (mean_word_len <= hi)
    lo, _ = GOPHER_RULES["alpha_ratio"]
    ok_alpha = alpha_ratio >= lo
    lo, _ = GOPHER_RULES["distinct_ratio"]
    ok_distinct = distinct_ratio >= lo
    lo, _ = GOPHER_RULES["stop_hits"]
    ok_stop = stop_hits >= lo

    flags = [
        ("n_tokens", ok_tokens),
        ("mean_word_len", ok_word_len),
        ("alpha_ratio", ok_alpha),
        ("distinct_ratio", ok_distinct),
        ("stop_hits", ok_stop),
    ]
    # concat_ws drops nulls, so failed-rule names join cleanly.
    fail_reasons = F.concat_ws(
        ",", *[F.when(~flag, F.lit(name)) for name, flag in flags]
    )
    keep = ok_tokens & ok_word_len & ok_alpha & ok_distinct & ok_stop
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len + 1e-9, 4).alias("mean_word_len"),
        F.round(alpha_ratio + 1e-9, 4).alias("alpha_ratio"),
        F.round(distinct_ratio + 1e-9, 4).alias("distinct_ratio"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
        fail_reasons.alias("fail_reasons"),
    )


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf fit: regress ln(token frequency) on ln(frequency
    rank).  Natural corpora sit near slope -1; a far-off slope is the
    cheapest single-number tripwire for TEMPLATED or machine-generated text
    flooding a crawl (repeated boilerplate flattens the head, random noise
    steepens the tail).

    One token-count aggregation (map-side partial over the scan), then the
    regression runs over the VOCABULARY — sublinear in corpus size (Heaps)
    but NOT bounded, so the frequency rank comes from the certified
    two_phase_global_rank (~30 log2-count buckets → broadcast offsets
    → partitioned in-bucket row_number; count ties share a bucket and
    break on the token itself) rather than a single-task global window —
    a 100 M-type vocabulary ranks with full parallelism.  Ranks are
    bit-identical to the plain window, so the estimate is unchanged.
    """
    from simple_land_registry_data_ingestion_spark.operators.relational import two_phase_global_rank

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(words_col("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = two_phase_global_rank(
        counts,
        F.floor(F.log2(F.col("cnt"))).cast("long"),
        [F.col("cnt").desc(), F.col("token")],
        out="rnk",
        descending=True,
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.round(F.expr("regr_slope(ln(cnt), ln(rnk))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(cnt), ln(rnk))"), 6).alias("zipf_intercept"),
    )


def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per document: sentence count and mean
    sentence length in tokens (regex segmentation on .!? runs — the cheap
    JVM-side proxy; a model-based splitter would be a mapInPandas stage).
    One scan, all column expressions."""
    docs = load(spark, sf_dir, "documents")
    sentences = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    n_sent = F.size(sentences).cast("long")
    n_tokens = token_count_col("text")
    return docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.when(n_sent > 0, F.round(n_tokens.cast("double") / n_sent, 4))
        .otherwise(None)
        .alias("mean_sentence_tokens"),
    )


def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID — the n-gram profile method (Cavnar &
    Trenkle shape): each language's PROFILE is its top-k most frequent
    char trigrams, learned from a held-in split of the corpus itself
    (doc_id % 7 != 0); every held-out document is scored by how many of
    its distinct trigrams hit each profile, argmax wins (ties resolve by
    language code).  Complements the stopword-hit classifier
    (text_lang_id): n-gram profiles need no curated word lists and survive
    tokenization-hostile scripts.

    Scale shape: profile building is one trigram explode + count + per-lang
    top-k window over lang-keyed partitions; the profiles are tiny
    (langs x k rows) and BROADCAST to score the corpus — the classify pass
    is explode + broadcast join + argmax aggregation, no corpus self-join.
    """
    from simple_land_registry_data_ingestion_spark.tables import fan_out

    # fan_out: trigram explosion is CPU-bound and the documents file is one
    # byte-small split — without the repartition ONE core does the whole
    # corpus (measured ~18s -> ~2s at sf0.1 on local[32]).
    docs = fan_out(load(spark, sf_dir, "documents"))
    # The normalization is SELECTed into a column before the gram lambda:
    # an outer expression referenced inside a higher-order-function lambda
    # is embedded and re-evaluated per element (regexp_replace once per
    # trigram = O(n^2) per document).
    base = docs.select(
        "doc_id",
        "lang",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("t"),
    )
    n = F.length("t")
    # greatest(..., 1): F.sequence(1, 0) would generate a DESCENDING
    # [1, 0] sequence; clamping to 1 keeps degenerate short texts harmless
    # (their <3-char grams are filtered below)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.col("t").substr(i, F.lit(3)),
    )
    # localCheckpoint: the trigram explosion feeds both the profile build
    # and the held-out classify; lazy-materializing it once halves the CPU
    # cost.  At corpus scale the alternative is persisting only the tiny
    # profiles and re-scanning for classification — swap when the explosion
    # outgrows local disk.
    tri = base.select(
        "doc_id", "lang", F.explode(grams).alias("tri")
    ).where(F.length("tri") == 3).localCheckpoint(eager=False)

    held_in = tri.where(F.col("doc_id") % 7 != 0)
    counts = held_in.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tri"))
    profiles = (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(F.col("lang").alias("profile_lang"), "tri")
    )

    held_out = tri.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", "tri"
    ).distinct()
    hits = (
        held_out.join(F.broadcast(profiles), "tri")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    pick = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("profile_lang")
    )
    return (
        hits.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("profile_lang").alias("pred_lang"),
            F.col("n_hits").cast("long").alias("n_profile_hits"),
        )
    )


def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information: adjacent
    token pairs that co-occur more than their unigram frequencies predict
    (PMI = log2(p(a,b) / (p(a)·p(b)))) — the classic phrase detector
    (word2vec's phrase pass, quality signals for tokenizer vocab building).

    One corpus scan explodes positional bigrams (corpus-linear, map-side
    combined counts); unigram totals are a second aggregate over the same
    exploded frame; the unigram table is vocabulary-sized and BROADCASTS
    twice onto the bigram counts.  Corpus-size scalars ride along as 1-row
    broadcast literals.  All probabilities are ratios of counts, so the
    6-dp round is engine-exact modulo one log2 ulp.
    """
    from simple_land_registry_data_ingestion_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select(F.explode(ws).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    n_tokens = toks.groupBy().agg(F.count(F.lit(1)).alias("n_tokens"))
    size = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(size - 1, F.lit(1))),
        lambda i: F.struct(
            F.get(ws, i - 1).alias("word_a"), F.get(ws, i).alias("word_b")
        ),
    )
    big = docs.select(
        F.explode(F.when(size >= 2, grams).otherwise(F.array())).alias("g")
    ).select("g.word_a", "g.word_b")
    n_pairs_total = big.groupBy().agg(F.count(F.lit(1)).alias("n_pairs_total"))
    pairs = (
        big.groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .where(F.col("n_pairs") >= 5)
    )
    ua = uni.select(F.col("w").alias("word_a"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("word_b"), F.col("n_w").alias("n_b"))
    pmi = F.log2(
        (F.col("n_pairs") / F.col("n_pairs_total"))
        / ((F.col("n_a") / F.col("n_tokens")) * (F.col("n_b") / F.col("n_tokens")))
    )
    return (
        pairs.join(F.broadcast(ua), "word_a")
        .join(F.broadcast(ub), "word_b")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_pairs_total))
        .select("word_a", "word_b", "n_pairs", F.round(pmi, 6).alias("pmi"))
    )


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer: tokens map to a FIXED feature space of
    64 dimensions via a hash, no vocabulary pass required —
    the unbounded-vocab answer for streaming/online featurization
    (scikit-learn HashingVectorizer, Vowpal Wabbit).

    The whole transform is one stateless scan: explode tokens, bucket =
    md5-prefix mod 64 (engine-portable, seed-free), count per
    (doc, bucket).  No vocabulary table, no broadcast, no second pass —
    which is exactly why the trick exists at 100 TB: the TF-IDF pipeline's
    vocab aggregate disappears entirely, and collisions are the accepted
    trade (documented dimension for quality evals).  Output is the sparse
    COO representation (doc_id, bucket, tf)."""
    from simple_land_registry_data_ingestion_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", F.explode(ws).alias("w"))
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
        % 64
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def text_chunk_dedup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup metric (CCNet / RefinedWeb style, adapted to
    this corpus's single-paragraph docs): split each document into
    NON-overlapping 10-word chunks and report, per document,
    how many of its distinct chunks also appear verbatim in at least one
    OTHER document — the per-doc duplicate-content fraction a filtering
    pipeline thresholds on before near-dedup ever runs.

    Differs from dedup_exact_substring (overlapping windows, span-level
    output) exactly the way paragraph-dedup differs from substring-dedup
    in an LLM pipeline: chunks are coarse, disjoint, and attributable to
    a document, so the metric is a per-doc score, not a span list.

    Plan: corpus-linear — explode to one row per chunk, ONE shuffle on
    the chunk text to count distinct docs per chunk (map-side combined),
    join the tiny duplicated-chunk set back (broadcast at any dup rate),
    aggregate per doc.  No doc ever joins another doc.  Docs shorter than
    one full chunk carry n_chunks=0 and fraction 0."""
    chunk_words = 10
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_full = F.floor(F.size(words) / chunk_words).cast("int")
    # guard: sequence(0, -1) would DESCEND in Spark, so docs shorter than
    # one chunk must be excluded here (they re-enter via the left joins)
    chunks = docs.where(F.size(words) >= chunk_words).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_full - 1),
                lambda i: F.array_join(
                    F.slice(words, i * chunk_words + 1, chunk_words), " "
                ),
            )
        ).alias("chunk"),
    ).distinct().localCheckpoint(eager=False)
    dup_chunks = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("chunk")
    )
    per_doc = chunks.join(F.broadcast(dup_chunks), "chunk", "left_semi")
    dup_counts = per_doc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_chunks")
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    base = docs.select("doc_id")
    return (
        base.join(totals, "doc_id", "left")
        .join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
            F.round(
                F.when(
                    F.coalesce("n_chunks", F.lit(0)) > 0,
                    F.coalesce("n_dup_chunks", F.lit(0))
                    / F.col("n_chunks").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_fraction"),
        )
    )


def text_bigram_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated KNESER-NEY bigram
    model (Kneser & Ney 1995; the smoothing KenLM defaults to) — the
    production upgrade of text_bigram_perplexity's MLE: absolute
    discounting moves d = 0.75 mass off every seen bigram and backs
    off to the CONTINUATION unigram (how many distinct left-contexts a
    word completes), which is what separates "common because versatile"
    from "common inside one collocation".

    p_kn(w2|w1) = max(C(w1w2) - d, 0)/C(w1)
                + d * N1+(w1,.)/C(w1) * N1+(.,w2)/N1+(..)

    Every factor is a vocabulary-sized aggregate of the one bigram
    explode: C(w1w2), C(w1), distinct-successor and distinct-predecessor
    counts, and the scalar distinct-bigram total (broadcast 1-row).
    Same scale shape as the MLE version: corpus-linear explode, vocab-
    sized count tables AQE-broadcasts back, one doc-keyed mean.  The
    1e-9 nudge keeps 4-dp rounding off engine-divergent halfway points."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", words_col("text").alias("ws")
    )
    ws = F.col("ws")
    n = F.size(ws)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = docs.select("doc_id", F.explode(bi).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # ONE corpus explode: the per-doc bigram-count frame d12 is the only
    # aggregation that touches `big`; every model factor then derives from
    # d12 (vocab^2-bounded) — c12 / c1 / continuation / total are sums and
    # distinct-counts OVER d12, all integer-exact, so the numbers equal
    # the definitionally row-wise ones.  (An earlier shape replayed the
    # explode per count table: 5 corpus passes.)
    d12 = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    c12 = d12.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fwd"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_rev"))
    total = c12.groupBy().agg(F.count(F.lit(1)).alias("n1p_all"))
    d = F.lit(0.75)
    scored = (
        d12.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(total))
    )
    p_kn = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + d
        * F.col("n1p_fwd")
        / F.col("c1")
        * (F.col("n1p_rev") / F.col("n1p_all"))
    )
    # occurrence-weighted mean log-prob == the row-wise mean (each distinct
    # doc-bigram contributes cnt identical terms); the oracle computes the
    # same weighted form so float association matches shape-for-shape
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.round(
            F.exp(-(F.sum(F.col("cnt") * F.log(p_kn)) / F.sum("cnt"))) + 1e-9, 4
        ).alias("kn_perplexity"),
    )


def text_jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every source's word distribution
    and the CORPUS word distribution — the drift/outlier screen a corpus
    curator runs per ingest source (JSD is symmetric, bounded [0, ln 2],
    and defined even where one side has zero mass, unlike raw KL).

    JSD(P||Q) = 0.5*KL(P||M) + 0.5*KL(Q||M), M = (P+Q)/2, computed per
    source over the shared vocabulary: one token explode, one (source,
    word) count, one corpus word count — vocabulary-sized frames joined
    and folded with sum(p*ln(p/m)) terms.  Words absent from a source
    contribute only through the Q-side term (p=0 -> 0*ln0 = 0 by
    convention), handled by aggregating each side separately instead of
    outer-joining NULLs.  Output: one row per source with its JSD and
    token count; identical fold both engines (same joins, same ln)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(words_col("text")).alias("w")
    )
    # ONE corpus explode: marginals derive from the (source, word) counts
    # — integer sums, so every downstream double equals the definitional
    # direct count exactly and the oracle needs no mirroring
    per_sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c_sw")
    ).localCheckpoint(eager=False)
    per_s = per_sw.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    per_w = per_sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    total = per_sw.groupBy().agg(F.sum("c_sw").alias("c_all"))
    j = (
        per_sw.join(per_s, "source")
        .join(per_w, "w")
        .crossJoin(F.broadcast(total))
    )
    p = F.col("c_sw") / F.col("c_s")          # P(w | source)
    q = F.col("c_w") / F.col("c_all")         # Q(w | corpus)
    m = (p + q) / F.lit(2.0)
    # words PRESENT in the source: full P-term + the present part of Q-term
    kl_terms = j.groupBy("source").agg(
        F.sum(p * F.log(p / m)).alias("kl_p"),
        F.sum(q * F.log(q / m)).alias("kl_q_present"),
        F.max("c_s").alias("n_tokens"),
    )
    # words ABSENT from the source: m = q/2, so each contributes
    # q*ln(2); their total q-mass is 1 - sum(present q), giving a closed
    # form instead of an outer join over the vocabulary
    q_present = (
        per_sw.join(per_w, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(F.sum(F.col("c_w") / F.col("c_all")).alias("q_mass_present"))
    )
    ln2 = F.log(F.lit(2.0))
    return (
        kl_terms.join(q_present, "source")
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.lit(0.5) * F.col("kl_p")
                + F.lit(0.5)
                * (
                    F.col("kl_q_present")
                    + (F.lit(1.0) - F.col("q_mass_present")) * ln2
                ),
                6,
            ).alias("jsd"),
        )
    )


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document, with a
    deterministic vowel-group syllable proxy (syllables(word) =
    max(1, count of [aeiouy]+ runs) — the standard dictionary-free
    heuristic; CMUdict-grade syllabification would be a broadcast lookup
    join in production).

    Readability is a stock quality-filter feature next to the Gopher
    rules: too-low grade flags listicles/boilerplate, too-high flags
    OCR garbage and run-on extraction errors.  Everything is one
    codegen'd scan — array transform + ordered fold for syllables (both
    engines fold in list order over integers, so the sum is exact),
    regexp_count for sentence terminators; no shuffle at all.

    Output: (doc_id, n_words, n_syllables, n_sentences, flesch_ease,
    fk_grade), 6-dp doubles computed with the identical left-associated
    IEEE expression on both engines."""
    docs = load(spark, sf_dir, "documents")
    ws = words_col("text")
    n_words = F.size(ws).cast("long")
    syllables = F.aggregate(
        F.transform(
            ws,
            lambda w: F.greatest(
                F.lit(1), F.regexp_count(w, F.lit(r"[aeiouy]+"))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    n_sentences = F.greatest(
        F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
    ).cast("long")
    wps = n_words / n_sentences
    spw = syllables / n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        syllables.alias("n_syllables"),
        n_sentences.alias("n_sentences"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): phrases are maximal
    runs of non-stopword tokens, each word scores deg/freq (degree = sum
    of the lengths of the phrase occurrences containing it), and a
    phrase scores the sum of its words' scores — the classic
    unsupervised keyphrase extractor, here over the whole corpus.

    Relational plan: one scan splits text on the stopword delimiters
    ('a'/'the' in this corpus) and explodes phrase occurrences; word
    scores are a vocabulary-sized aggregate; phrase scores join the
    DISTINCT phrase-word explode against that tiny frame and sum.  Word
    scores are 6-dp DECIMAL(18,6), so the per-phrase sum is exact and
    order-free on both engines — no fold-order discipline needed.  Top-k
    by (score desc, phrase) plans TakeOrderedAndProject.

    Output: (phrase, n_occurrences, rake_score), top ``k``."""
    docs = load(spark, sf_dir, "documents")
    delimited = F.regexp_replace(
        F.lower(F.trim(F.col("text"))), r"\b(a|the)\b", "|"
    )
    phrases = (
        docs.select(F.explode(F.split(delimited, r"\|")).alias("raw"))
        .select(
            F.regexp_replace(F.trim(F.col("raw")), r"\s+", " ").alias("phrase")
        )
        .where(F.col("phrase") != "")
    )
    occ = phrases.withColumn(
        "plen", F.size(F.split(F.col("phrase"), " "))
    )
    word_scores = (
        occ.select("plen", F.explode(F.split("phrase", " ")).alias("w"))
        .groupBy("w")
        .agg(
            F.round(F.sum("plen") / F.count(F.lit(1)), 6)
            .cast("decimal(18,6)")
            .alias("s")
        )
    )
    distinct_ph = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        distinct_ph.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(F.broadcast(word_scores), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.round(F.sum("s").cast("double"), 6).alias("rake_score"))
    )
    return scored.orderBy(
        F.col("rake_score").desc(), F.col("phrase")
    ).limit(50)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring — the search-engine ranking function
    (Robertson/Spärck Jones; Lucene's default) over the documents table
    for a fixed 3-term query, returning the top-20 hits.  Completes the
    retrieval surface next to TF-IDF salience (text_tfidf_topk) and the
    cosine join (dedup_tfidf_cosine): BM25 adds the tf saturation (k1)
    and length normalization (b) that raw TF-IDF lacks.

    Scale shape: one explode -> (doc, term) tf aggregation restricted to
    the 3 query terms (the isin filter prunes BEFORE the shuffle, so the
    aggregate carries query-matching postings only); df and the global
    (n_docs, avgdl) ride broadcast 1-row/3-row joins; the final top-k is
    an orderBy+limit — TakeOrderedAndProject per-task heaps, never a
    global sort.

    Float discipline: per-(doc, term) contributions are 9-dp DECIMAL so
    the per-doc sum is exact and order-free; idf/lengths use the same
    left-to-right expression on both engines; final score rounds 6-dp
    before ranking, tie-broken by doc_id — a total order."""
    k1 = 1.2
    b = 0.75
    query_terms = ["join", "hash", "window"]
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(words_col("text")).alias("token")
    )
    doclen = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = doclen.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    tf = (
        tokens.where(F.col("token").isin(query_terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom, 9)
            .cast("decimal(18,9)")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c").cast("double"), 6).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# PII detection / redaction scan
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{2} [0-9]{8}"
PII_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit — the compliance scan every
    LLM-training corpus runs before release (emails, phone numbers, IP
    addresses detected by pattern, replaced by class placeholders, with
    per-source counts proving the redactor caught everything).

    The synthetic corpus carries no PII, so each document gets a
    deterministic contact block synthesized from ``doc_id`` arithmetic
    (same integer expressions on both engines — the scalar_url_funcs
    pattern); detection then runs GENERIC regexes over the combined text,
    so the green hash certifies that pattern-based detection finds exactly
    the planted instances (one email + one phone + one IP per doc) and
    that redaction length accounting is exact.

    Scale: pure scan-stage work — regexp_count/regexp_replace are
    codegen'd JVM expressions evaluated once per row, followed by ONE
    map-side-combined aggregation on the low-cardinality source key.  At
    100 TB this is the shape you want: no shuffle until the 20-row
    per-source rollup.  All outputs are BIGINT.

    Output: (source, n_docs, n_emails, n_phones, n_ips, chars_redacted).
    """
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    blob = F.concat(
        F.col("text"),
        F.lit(" contact user"), (d % 97).cast("string"),
        F.lit("@mail"), (d % 13).cast("string"), F.lit(".net tel +44 7"),
        F.lpad(((d * 7919 + 13) % 10000000).cast("string"), 7, "0"),
        F.lit(" ip "), ((d * 3 + 7) % 223 + 1).cast("string"),
        F.lit("."), ((d * 5 + 11) % 256).cast("string"),
        F.lit("."), ((d * 7 + 17) % 256).cast("string"),
        F.lit("."), ((d * 11 + 19) % 254 + 1).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(PII_EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(PII_PHONE_RE), F.lit("[PHONE]"),
        ),
        F.lit(PII_IP_RE), F.lit("[IP]"),
    )
    scanned = docs.select("source", blob.alias("t")).select(
        "source",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE)).alias("ne"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE)).alias("np"),
        F.regexp_count(F.col("t"), F.lit(PII_IP_RE)).alias("ni"),
        (F.length("t") - F.length(redacted)).alias("delta"),
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ne").cast("long").alias("n_emails"),
        F.sum("np").cast("long").alias("n_phones"),
        F.sum("ni").cast("long").alias("n_ips"),
        F.sum("delta").cast("long").alias("chars_redacted"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two lexical rankers
# ---------------------------------------------------------------------------

def search_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of two rankers over the
    same 3-term query: BM25 (text_bm25_topk's scorer) and summed TF-IDF
    (text_tfidf_topk's salience formula) — the standard hybrid-retrieval
    combiner (Elasticsearch/OpenSearch ship exactly this RRF), scored as
    Σ 1/(rrf_k + rank_i) over the rankers that retrieved the doc.

    Both scorers share ONE postings pass: the query-term isin filter
    prunes before the (doc, term) tf shuffle, then df/doclen/global
    stats join back exactly as in text_bm25_topk.  Per-ranker scores are
    9-dp DECIMAL per-term contributions summed exactly, rounded 6dp, and
    ranked with a doc_id tiebreak — a total order, so each ranker's
    top-N list is engine-identical.  The fusion join is a FULL OUTER of
    two N-row lists (docs retrieved by only one ranker keep the other
    contribution at 0 via coalesce); the two 1/(rrf_k+rank) terms are
    added in fixed written order and rounded 6dp.

    Scale shape: rank-then-fuse touches the corpus once; the two top-N
    lists and the fusion are O(N) regardless of corpus size.  Each
    ranker's top-N IS a TakeOrdered pass (per-task heaps) with the
    rank window running over the N survivors only; RRF itself never sees
    more than 2N rows."""
    k1 = 1.2
    b = 0.75
    n_per_ranker = 50
    rrf_k = 60
    query_terms = ["join", "hash", "window"]
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(words_col("text")).alias("token"))
    doclen = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = doclen.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    tf = (
        tokens.where(F.col("token").isin(query_terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    bm25_idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm25_denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
    )
    tfidf_c = F.col("tf") * (
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(bm25_idf * (F.col("tf") * F.lit(k1 + 1.0)) / bm25_denom, 9)
            .cast("decimal(18,9)")
            .alias("cb"),
            F.round(tfidf_c, 9).cast("decimal(18,9)").alias("ct"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("cb").cast("double"), 6).alias("bm25"),
        F.round(F.sum("ct").cast("double"), 6).alias("tfidf"),
    )
    # Top-N per ranker: LIMIT first (plans as TakeOrderedAndProject —
    # per-task heaps over the candidate set, never a global sort), THEN
    # row_number over the N surviving rows (the global window over
    # the full candidate set collapsed to one task at scale; ranking
    # after the limit is bit-identical because the orders coincide).
    top_bm25 = (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(n_per_ranker)
        .select(
            F.col("doc_id").alias("doc_bm25"),
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rank_bm25"),
        )
    )
    top_tfidf = (
        scored.orderBy(F.col("tfidf").desc(), F.col("doc_id"))
        .limit(n_per_ranker)
        .select(
            F.col("doc_id").alias("doc_tfidf"),
            F.row_number()
            .over(Window.orderBy(F.col("tfidf").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rank_tfidf"),
        )
    )
    fused = top_bm25.join(
        top_tfidf,
        F.col("doc_bm25") == F.col("doc_tfidf"),
        "full_outer",
    ).select(
        F.coalesce(F.col("doc_bm25"), F.col("doc_tfidf")).alias("doc_id"),
        "rank_bm25",
        "rank_tfidf",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_bm25")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_tfidf")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


def search_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search over a distributed inverted index — the
    exact-phrase retrieval primitive BM25 can't express (bag-of-words
    scoring loses adjacency): build (doc, term, position) postings with
    ``posexplode``, keep ONLY the phrase's terms (the filter reaches the
    scan before any shuffle — the index for a 2-term phrase is two
    posting lists, not the corpus), then adjacency is an equi-join on
    (doc, pos+1): term2's posting at position p+1 next to term1's at p.
    N-term phrases chain the same join n-1 times.

    Plan at scale: tokenize + filter are scan-stage; the postings for
    the two phrase terms shuffle ON THE DOC KEY once; the position join
    is within-doc.  Posting volume is corpus-linear ONLY in the phrase
    terms' document frequency — the standard positional-index cost
    (Manning IR ch.2) — so a rare-term-first planner note applies but
    the join order here is fixed and correct for any df.

    Output: (doc_id, lang, n_occurrences, first_pos) per matching doc."""
    terms = ["fast", "table"]
    postings = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
        )
        .where(F.col("term").isin(terms))
        .select(
            "doc_id", "lang", "term",
            (F.col("pos0") + 1).cast("long").alias("pos"),
        )
    )
    p1 = postings.where(F.col("term") == terms[0]).select(
        "doc_id", "lang", F.col("pos").alias("pos_a")
    )
    p2 = postings.where(F.col("term") == terms[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    hits = p1.join(
        p2,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("pos_b") == F.col("pos_a") + 1),
    )
    return hits.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("pos_a").cast("long").alias("first_pos"),
    )


#: Inline gazetteer for dictionary tagging: term -> category.  A real
#: deployment loads this from a file; the mechanism (broadcast dictionary
#: joined against scan-stage postings) is what the operator certifies.
_TAG_DICT = [
    ("fast", "perf"), ("slow", "perf"), ("big", "perf"), ("small", "perf"),
    ("table", "sql"), ("join", "sql"), ("scan", "sql"), ("filter", "sql"),
    ("agg", "sql"), ("query", "sql"),
    ("spark", "infra"), ("stream", "infra"), ("batch", "infra"),
]


def text_dictionary_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary / gazetteer tagging — the Aho-Corasick-shaped primitive
    of entity tagging, PII-term matching, and topic labeling, expressed
    distributively: tokenize at the scan, equi-join tokens against a
    BROADCAST dictionary (the dictionary is small by definition; the
    corpus never re-shuffles), aggregate hits per (doc, category).

    For multi-word dictionary entries this composes with
    search_phrase_positional's adjacency join; single-token terms keep
    the demo plan minimal: tokenize -> broadcast hash join -> one keyed
    groupBy.  At 100 TB the only shuffle is the (doc, category) rollup,
    and it carries ONLY matched tokens (the join drops the rest at the
    scan stage).

    Output: (doc_id, category, n_hits, n_distinct_terms) for every doc x
    category with >= 1 hit."""
    dict_df = spark.createDataFrame(_TAG_DICT, ["term", "category"])
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    )
    return (
        toks.join(F.broadcast(dict_df), "term")
        .groupBy("doc_id", "category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.count_distinct("term").cast("long").alias("n_distinct_terms"),
        )
    )


def text_bpe_word_merges(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> DataFrame:
    """BPE-style merge learning, distributed — the vocabulary-induction
    loop at the heart of every modern tokenizer (Sennrich et al.), run
    at WORD level over the corpus (the same algorithm word2phrase uses
    for collocation mining): each iteration counts all adjacent symbol
    pairs, takes the global argmax, and rewrites the corpus with the
    merged symbol — which then participates in later merges.

    Rewrite determinism: the working text is DOUBLE-space separated and
    space-padded, so the merge pattern ``' x  y '`` owns its boundary
    spaces on both sides and plain left-to-right ``replace`` merges
    every non-overlapping occurrence identically on both engines
    (overlapping chains ``a a a`` merge their first pair only — the BPE
    convention).  The argmax tie-breaks (count desc, pair asc).

    Plan at scale, per iteration: adjacent-pair counting is a pure
    SCAN-STAGE ``zip_with`` of the token array against its own tail
    (a posexplode of positional postings self-joined on (doc, pos+1)
    would cost two full shuffles of the token
    table per round for pairs the array already holds in order), so
    the only shuffle is the map-side-combined pair count; the 1-row
    argmax broadcasts back into a scan-stage rewrite; the corpus frame
    is ``localCheckpoint``-materialized per round (the CC/PageRank
    iteration discipline).  Real BPE runs thousands of merges — the
    loop shape is the same, only ``iters`` grows.

    Output: (iter, left_tok, right_tok, n_occurrences) — one row per
    learned merge."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(" "),
            F.replace(F.col("text"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        ).alias("work"),
    ).localCheckpoint(eager=True)
    merge_rows = []
    for i in range(iters):
        arr = F.split(F.trim(F.col("work")), "  ")
        n_adj = F.greatest(F.size(arr) - 1, F.lit(0))
        adj = F.zip_with(
            F.slice(arr, 1, n_adj),
            F.slice(arr, 2, n_adj),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        )
        pairs = (
            docs.select(F.explode(adj).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "x", "y")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merge_rows.append(
            best.select(
                F.lit(i + 1).cast("long").alias("iter"),
                F.col("x").alias("left_tok"),
                F.col("y").alias("right_tok"),
                F.col("cnt").alias("n_occurrences"),
            )
        )
        if i + 1 == iters:
            # The last iteration's rewrite feeds nothing — the merge
            # row is taken from ``best`` BEFORE the rewrite — so skipping
            # it drops one full corpus rewrite + eager materialization
            # per run with byte-identical output.
            break
        docs = (
            docs.crossJoin(F.broadcast(best))
            .select(
                "doc_id",
                F.replace(
                    F.col("work"),
                    F.concat(F.lit(" "), F.col("x"), F.lit("  "), F.col("y"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("x"), F.lit("@"), F.col("y"), F.lit(" ")),
                ).alias("work"),
            )
            .localCheckpoint(eager=True)
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out


def text_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the UNSEEN vocabulary — the
    classic answer to "how many distinct tokens would this corpus show
    if we kept crawling": chao1 = V_obs + f1*(f1-1)/(2*(f2+1)) (the
    bias-corrected form, defined even when no doubletons exist) where
    f1/f2 are singleton/doubleton token counts, plus Good-Turing sample
    coverage 1 - f1/N — the number a curation team reads as "the corpus
    has converged" (coverage -> 1) or "keep ingesting" (low coverage).

    Everything is integer until the two final divisions (6 dp): one
    corpus explode, one token-frequency groupBy (vocabulary-sized), one
    conditional 1-row rollup — the same two-shuffle shape as the
    vocab/TF-IDF family, so it inherits their 100 TB behavior."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return freq.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    ).select(
        "v_obs",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("v_obs")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1).cast("double")
            / (2.0 * (F.col("f2") + 1).cast("double")),
            6,
        ).alias("chao1"),
        F.round(
            1.0 - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Corpus diversity / distribution distance (X233-X234)
# ---------------------------------------------------------------------------

def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson + Shannon lexical diversity per source — the corpus-mix
    gauges (next to Zipf/Heaps/Chao1) a data-curation pipeline tracks
    per crawl source: Simpson's D is the collision probability of two
    random tokens (high = template-heavy source), Shannon H the entropy.

    Simpson is ALL-INTEGER before one 6-dp division:
        D = SUM(n_i * (n_i - 1)) / (N * (N - 1))
    Shannon sums per-token 12-dp DECIMAL(28,12) terms -(n_i/N) ln(n_i/N)
    (the repo's ln-on-derived-ratio discipline, hash-proven by the
    perplexity/elasticity precedents).

    Scale: one (source, token) aggregate + one source rollup — both
    map-side combinable; vocabulary-bounded state."""
    tok = load(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    p = F.col("n_i").cast("double") / F.col("n").cast("double")
    h_term = F.round(-p * F.log(p), 12).cast("decimal(28,12)")
    tot = cnt.groupBy("source").agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("long").alias("coll"),
    )
    shannon = (
        cnt.join(F.broadcast(tot.select("source", "n")), "source")
        .groupBy("source")
        .agg(F.sum(h_term).alias("sh"))
    )
    return tot.join(F.broadcast(shannon), "source").select(
        "source",
        F.col("n").alias("n_tokens"),
        "vocab",
        F.round(
            F.col("coll").cast("double")
            / (F.col("n").cast("double") * (F.col("n").cast("double") - 1.0)),
            6,
        ).alias("simpson"),
        F.round(F.col("sh").cast("double"), 6).alias("shannon"),
    )


def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the symmetric, bounded distribution distance a
    mixture-design pipeline uses to pick maximally-diverse sources (and
    to detect mirror crawls: JSD ~ 0).

    Densification makes the pair algebra total: the vocabulary spine
    (vocab x sources, vocabulary-bounded) zero-fills absent tokens, so
    p=0 / q=0 terms vanish by the WHEN guard rather than by NULL
    accident.  Each contribution p*ln(2p/(p+q)) rounds 12dp into
    DECIMAL(28,12) (order-free sums); JSD = (sum)/2 rounded 6dp.

    Scale: |sources|^2/2 pairs x vocabulary — source-pair analytics are
    dimension-bounded, never corpus-bounded; the one corpus-sized pass
    is the token count."""
    tok = load(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    vocab = cnt.select("token").distinct()
    dense = (
        vocab.crossJoin(F.broadcast(tot))
        .join(cnt, ["source", "token"], "left")
        .select(
            "source",
            "token",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n").cast("double")
            ).alias("p"),
        )
    )
    a = dense.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("p").alias("pa"),
    )
    b = dense.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "token").where(F.col("source_a") < F.col("source_b"))
    term_a = F.when(
        F.col("pa") > 0,
        F.round(
            F.col("pa")
            * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb"))),
            12,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    term_b = F.when(
        F.col("pb") > 0,
        F.round(
            F.col("pb")
            * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb"))),
            12,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum((F.col("pa") > 0).cast("long")).cast("long").alias("n_a"),
            F.sum((F.col("pb") > 0).cast("long")).cast("long").alias("n_b"),
            F.sum(term_a).alias("sa"),
            F.sum(term_b).alias("sb"),
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.round(
                (F.col("sa").cast("double") + F.col("sb").cast("double"))
                / 2.0,
                6,
            ).alias("jsd"),
        )
    )


# ---------------------------------------------------------------------------
# Term burstiness, code-vs-prose detection
# ---------------------------------------------------------------------------

def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: for each frequent term, how much does
    it CLUMP?  burstiness = cf/df (mean occurrences per containing doc)
    and the Fano factor (variance-to-mean over containing docs) separate
    topical terms (bursty: 'kernel' appears 9x in the one doc about it)
    from function words (flat: 'the' appears everywhere evenly) — the
    standard signal behind stopword induction, keyword weighting, and
    boilerplate screens in a corpus pipeline.

    Exactness: cf, df and the per-doc count moments are exact longs;
    burstiness = cf/df and fano = (sum_c2 - cf^2/df) / df / (cf/df)
    evaluate as single double expressions over exact moments, 6 dp.

    Scale: one tokenize-explode pass -> (term, doc) counts (corpus-
    linear) -> one term groupBy (vocabulary-sized).  Top 20 by
    (burstiness desc, term) plans TakeOrderedAndProject.

    Output: (term, df, cf, burstiness, fano) top 20."""
    docs = load(spark, sf_dir, "documents")
    td = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    terms = td.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("c2"),
    ).where(F.col("df") >= F.lit(20))
    dfd = F.col("df").cast("double")
    cfd = F.col("cf").cast("double")
    mean = cfd / dfd
    var = (F.col("c2").cast("double") - cfd * cfd / dfd) / dfd
    return (
        terms.select(
            "term",
            "df",
            "cf",
            F.round(mean, 6).alias("burstiness"),
            F.round(var / mean, 6).alias("fano"),
        )
        .orderBy(F.col("burstiness").desc(), "term")
        .limit(20)
    )


def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection by surface statistics — the cheap router a
    training-data pipeline runs before language-specific processing:
    symbol density ({};()=<>[] per char), indented-line fraction, and
    mean line length vote a document 'code' when at least two fire.

    All three signals are integer regexp_count / length arithmetic; the
    ratios are single int/int doubles rounded 6 dp, and the vote is a
    boolean sum — engine-portable with no tokenizer dependency (the
    discipline of text_quality_score / text_pii_scan).

    Scale: pure scan-stage per-row projection + one source groupBy.

    Output: per source (n_docs, n_code, code_rate, mean_symbol_ratio)."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.col("text"),
        F.length("text").cast("long").alias("n_chars"),
    ).where(F.col("n_chars") > 0)
    sym = F.regexp_count(F.col("text"), F.lit(r"[{}();=<>\[\]]")).cast("long")
    lines = (F.regexp_count(F.col("text"), F.lit("\n")) + 1).cast("long")
    # explicit (^|\n) instead of (?m)^: Java multiline ^ also
    # fires after \r and U+0085/U+2028/U+2029 while the oracle's RE2 fires
    # only after \n — the alternation means the same thing in both engines
    indented = F.regexp_count(
        F.col("text"), F.lit("(^|\n)(    |\t)")
    ).cast("long")
    scored = docs.select(
        "source",
        "n_chars",
        sym.alias("n_sym"),
        lines.alias("n_lines"),
        indented.alias("n_indented"),
    ).select(
        "source",
        F.round(F.col("n_sym").cast("double") / F.col("n_chars").cast("double"), 6)
        .alias("symbol_ratio"),
        F.round(
            F.col("n_indented").cast("double") / F.col("n_lines").cast("double"), 6
        ).alias("indent_ratio"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_lines").cast("double"), 6
        ).alias("mean_line_len"),
    ).select(
        "source",
        "symbol_ratio",
        (
            (F.col("symbol_ratio") > 0.03).cast("int")
            + (F.col("indent_ratio") > 0.2).cast("int")
            + (F.col("mean_line_len") < 40.0).cast("int")
            >= 2
        ).alias("is_code"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("is_code").cast("long")).cast("long").alias("n_code"),
        F.round(
            F.sum(F.col("is_code").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("code_rate"),
        F.round(
            F.sum(
                F.col("symbol_ratio").cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_symbol_ratio"),
    )


# log2 length-bucket boundaries shared verbatim with the DuckDB oracle — an
# explicit CASE chain instead of runtime log2() (engine-portable integers)
_LEN_BUCKETS = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def text_length_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length spectrum in power-of-two token buckets —
    the length histogram every training-mix design starts from (sequence
    packing efficiency, truncation loss, and length-balance quotas all
    read off this table).

    The bucket is resolved by an explicit shared CASE chain over the
    _LEN_BUCKETS boundaries — never runtime log2() (portability: both
    engines compare the same integers).  Token count is
    the whitespace split length on the trimmed text, the repo-standard
    tokenizer.  All outputs are BIGINT plus one int/int double share.

    Scale: pure scan-stage projection (split+size+CASE) into a
    map-side-combined (source, bucket) groupBy bounded by |sources| x 14.

    Output: (source, bucket_lo, n_docs, total_tokens, doc_share)."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("long").alias("ntok"),
    )
    bucket = F.lit(0).cast("long")
    for lo in _LEN_BUCKETS:
        bucket = F.when(F.col("ntok") >= lo, F.lit(lo).cast("long")).otherwise(bucket)
    spec = (
        docs.select("source", F.col("ntok"), bucket.alias("bucket_lo"))
        .groupBy("source", "bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
        )
    )
    wsrc = Window.partitionBy("source")
    return spec.select(
        "source",
        "bucket_lo",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(wsrc).cast("double"),
            6,
        ).alias("doc_share"),
    )
