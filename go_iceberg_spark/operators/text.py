"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All built-in Spark SQL functions (regexp / split /
higher-order) — whole-stage codegen'd, linear scans, no shuffle except the
final aggregation a caller may add. Each has an exact DuckDB-SQL twin in
workload.py so the correctness gate pins the semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword sets for the n-gram/stopword-voting heuristic;
# frozen constants shared with the SQL oracle.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "value", "table"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
    "it": ("il", "la", "gli", "e", "è", "un", "una", "di"),
}
LANG_ORDER = tuple(LANG_STOPWORDS)  # deterministic tie-break order


def tokens_expr(text) -> Column:
    """Whitespace tokens of trimmed text; empty string → [] (not [''])."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count_expr(text) -> Column:
    return F.size(tokens_expr(text)).cast("long")


def bpe_ish_token_count_expr(text) -> Column:
    """Sub-word-ish token count: splits on whitespace AND word/non-word
    boundaries (a cheap BPE proxy): count of maximal runs of word chars plus
    individual punctuation chars."""
    # count word-char runs + non-space-non-word chars
    word_runs = F.size(F.filter(F.split(text, r"[^A-Za-z0-9]+"), lambda x: F.length(x) > 0))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return (word_runs + punct).cast("long")


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: length, token count, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    text = F.col(text_col)
    toks = tokens_expr(text)
    n_toks = F.size(toks)
    en_stop = list(LANG_STOPWORDS["en"])
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(en_stop)))
    return df.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.when(n_toks > 0, (F.length(F.regexp_replace(text, r"\s", "")) / n_toks)).otherwise(F.lit(0.0)).cast("double").alias("mean_token_len"),
        (F.length(F.regexp_replace(text, r"[^.!?,;:]", "")) / F.greatest(F.length(text), F.lit(1))).cast("double").alias("punct_ratio"),
        F.when(n_toks > 0, stop_hits / n_toks).otherwise(F.lit(0.0)).cast("double").alias("stopword_ratio"),
        (F.length(F.regexp_replace(text, r"[^A-Z]", "")) / F.greatest(F.length(text), F.lit(1))).cast("double").alias("upper_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Scalar quality score in [0,1]: rewards mid-length documents and sane
    stopword presence, penalizes punctuation soup. Formula is frozen and
    mirrored in the SQL oracle."""
    feats = quality_features(df, id_col, text_col)
    length_term = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - F.col("punct_ratio") * F.lit(10.0), F.lit(0.0))
    return feats.select(
        F.col(id_col),
        ((length_term * F.lit(0.4) + stop_term * F.lit(0.4)) * punct_pen + F.lit(0.2) * punct_pen).cast("double").alias("quality"),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows (the
    chunking step before embedding for retrieval, or packing into model
    context windows): window k covers tokens [k*stride, k*stride + size).
    Output (id, chunk_id, chunk_text, n_tokens); the final partial window is
    kept. Pure built-ins — tokenize once, explode window starts from a
    per-row sequence, slice per window; linear in total tokens, no
    shuffle."""
    toks = tokens_expr(F.col(text_col))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        df.select(F.col(id_col), toks.alias("_t"), F.explode(starts).alias("_s"))
        .filter((F.col("_s") == 0) | (F.col("_s") < F.size("_t")))
        .select(
            F.col(id_col),
            (F.col("_s") / stride).cast("int").alias("chunk_id"),
            F.array_join(F.slice(F.col("_t"), F.col("_s") + 1, size), " ").alias("chunk_text"),
            F.least(F.size("_t") - F.col("_s"), F.lit(size)).cast("int").alias("n_tokens"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 relevance of each document to a bag-of-terms query (the
    lexical-retrieval scorer used to mine training data against a topic
    seed list). Lucene's non-negative idf variant:

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        score_d = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Tokenization is the corpus-wide ``[^a-z]+`` lowercase split shared with
    TF-IDF so the DuckDB oracle reproduces scores bit-for-bit. Returns
    (id, n_hits, score) for documents matching ≥1 query term.

    Scale shape: the query-term filter lands BEFORE the tf groupBy, so only
    matching (doc, term) occurrences shuffle; N/avgdl is a 1-row aggregate
    and per-term df is ≤|terms| rows — both broadcast. The corpus shuffles
    once, keyed by doc."""
    term_list = [t.lower() for t in terms]
    toks = (
        df.select(
            F.col(id_col),
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                     lambda t: F.length(t) > 0).alias("_toks"),
        )
        .select(F.col(id_col), F.size("_toks").cast("long").alias("_dl"),
                F.explode("_toks").alias("_term"))
    )
    tf = (
        toks.filter(F.col("_term").isin(term_list))
        .groupBy(F.col(id_col), "_term", "_dl")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    corpus_stats = df.select(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg(F.size(F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                              lambda t: F.length(t) > 0))).alias("_avgdl"),
    )
    df_per_term = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    idf = df_per_term.join(F.broadcast(corpus_stats)).select(
        "_term",
        F.log1p((F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)).alias("_idf"),
        "_avgdl",
    )
    contrib = tf.join(F.broadcast(idf), on="_term").select(
        F.col(id_col),
        (F.col("_idf") * F.col("_tf") * (k1 + 1)
         / (F.col("_tf") + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl")))).alias("_s"),
    )
    return (
        contrib.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"),
             F.round(F.sum("_s"), 4).alias("score"))
    )


def bigram_lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed bigram LM trained
    on the corpus itself — the perplexity-style quality filter (CCNet-lineage)
    that flags documents whose word transitions are atypical for the corpus:

        p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)
        xent_d     = − mean over d's bigrams of ln p(w2 | w1)

    c(w1) is w1's CONTEXT count (Σ_w2 c(w1·w2)) so probabilities normalize;
    V is the corpus' distinct-word count. Tokenization is the corpus-wide
    ``[^a-z]+`` lowercase split. Documents with < 2 tokens have no bigrams
    and are omitted. Returns (id, n_bigrams, xent).

    Per-bigram NLL is quantized to integer millionths-ish
    (floor(nll·2²⁰), the kmeans oracle's trick) before summing, so the
    cross-entropy is bit-identical in any engine regardless of float
    summation order.

    Scale shape: bigram training counts are one groupBy keyed on the bigram
    (map-side combined — output is vocab²-bounded, not corpus-bounded);
    scoring joins each document's bigram OCCURRENCES (doc, w1, w2, n)
    against the count tables keyed on the bigram, so the corpus shuffles on
    bigram then on doc — no driver-side model materialization, the
    \"model\" is a distributed table. V is a 1-row aggregate broadcast."""
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                 lambda t: F.length(t) > 0).alias("_toks"),
    )
    bigrams = (
        toks.filter(F.size("_toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(F.expr(
                "transform(slice(_toks, 1, size(_toks) - 1), "
                "(w, i) -> struct(w AS w1, _toks[i + 1] AS w2))"
            )).alias("_bg"),
        )
        .select(F.col(id_col), F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    )
    doc_bg = bigrams.groupBy(F.col(id_col), "_w1", "_w2").agg(F.count(F.lit(1)).alias("_n"))
    bg_counts = bigrams.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c12"))
    ctx_counts = bigrams.groupBy("_w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = toks.select(F.explode("_toks").alias("_w")).agg(F.count_distinct("_w").alias("_v"))
    scored = (
        doc_bg.join(bg_counts, on=["_w1", "_w2"])
        .join(ctx_counts, on="_w1")
        .join(F.broadcast(vocab))
        .select(
            F.col(id_col), F.col("_n"),
            F.floor(F.col("_n") * -F.log((F.col("_c12") + 1) / (F.col("_c1") + F.col("_v")))
                    * F.lit(1048576)).cast("long").alias("_qnll"),
        )
    )
    return (
        scored.groupBy(F.col(id_col))
        .agg(F.sum("_n").cast("long").alias("n_bigrams"),
             F.round(F.sum("_qnll") / F.lit(1048576.0) / F.sum("_n"), 6).alias("xent"))
    )


def robust_scale(df: DataFrame, id_col: str, group_col: str, value_col: str) -> DataFrame:
    """Per-group robust feature scaling: (x - median) / IQR within each
    group (z-score that ignores outliers — the normalization applied to
    per-document features like length before quality thresholding).

    Implemented with ``applyInPandas`` (grouped-map Pandas UDF): each group
    arrives as one Arrow-backed pandas frame, quantiles are vectorized
    numpy, and groups process in parallel across executors — the idiomatic
    Spark shape for per-group logic that needs the whole group in memory
    (quantiles can't partial-aggregate exactly). Groups must individually
    fit an executor; for billions-of-rows groups use approx_percentile +
    join instead. numpy's linear interpolation matches DuckDB/ANSI
    quantile_cont, so the oracle reproduces results exactly."""
    import pandas as pd  # noqa: F401 - executor-side dependency, imported for clarity

    out_schema = f"{id_col} long, {group_col} string, scaled double"

    def scale(pdf):
        import numpy as np

        v = pdf[value_col].astype(float)
        med = float(np.percentile(v, 50))
        q1, q3 = float(np.percentile(v, 25)), float(np.percentile(v, 75))
        iqr = q3 - q1
        scaled = (v - med) / iqr if iqr else v * 0.0
        return pdf.assign(scaled=scaled.round(4))[[id_col, group_col, "scaled"]]

    return df.select(id_col, group_col, value_col).groupBy(group_col).applyInPandas(
        scale, out_schema)


PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # order matters: emails before bare domains; patterns are RE2/Java-common
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}", "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses with fixed placeholder
    tokens — the pre-training PII pass. Patterns are frozen module constants
    written in the regex subset Java (Spark) and RE2 (DuckDB) share, so the
    oracle applies the identical chain. Pure regexp_replace chain: JVM-side,
    linear, no shuffle."""
    out = out_col or text_col
    col = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out, col)


# HTML boilerplate-strip chain, applied in order. Frozen constants in the
# regex subset Java (Spark) and RE2 (DuckDB) share, like PII_PATTERNS.
HTML_STRIP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),  # script blocks incl. contents
    (r"(?s)<style[^>]*>.*?</style>", " "),  # style blocks incl. contents
    (r"(?s)<!--.*?-->", " "),  # comments
    (r"<[^>]+>", " "),  # any remaining tag
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"\s+", " "),  # collapse whitespace last
)


def strip_html(df: DataFrame, html_col: str, out_col: str | None = None) -> DataFrame:
    """Extract visible text from HTML (the CommonCrawl boilerplate-removal
    step before any quality/dedup pass): drop script/style/comment blocks
    with their contents, then tags, decode the common entities, collapse
    whitespace. A frozen regexp_replace chain — JVM-side, linear, no
    shuffle; the DuckDB oracle applies the identical chain."""
    out = out_col or html_col
    col = F.col(html_col)
    for pat, repl in HTML_STRIP_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out, F.trim(col))


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_quantile: float = 0.25,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Drop the lowest-quality quantile of the corpus (CCNet-style bucket
    filtering): keep documents whose quality score is at or above the
    corpus ``min_quantile`` threshold.

    The threshold is one scalar aggregate broadcast back over the corpus —
    no global sort, no window over the full corpus. Default is
    ``approx_percentile`` (KLL-sketch, fixed memory per partition — the
    100 TB path); ``exact=True`` uses the exact interpolated percentile for
    oracle-reproducible results and buffers the score column in the
    aggregate, which is fine up to ~10^8 docs per executor but is NOT the
    scale path. Scores and threshold are rounded to 6 decimals on both
    engines before the >= compare."""
    qs = quality_score(df, id_col, text_col).withColumn("quality", F.round("quality", 6))
    if exact:
        thr_expr = F.percentile("quality", F.lit(min_quantile))
    else:
        thr_expr = F.percentile_approx("quality", F.lit(min_quantile), F.lit(accuracy))
    thr = qs.agg(F.round(thr_expr, 6).alias("_thr"))
    return (
        qs.join(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("_thr"))
        .select(id_col, "quality")
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-voting language ID: predicted language = argmax over
    languages of (# tokens in that language's stopword set), ties broken by
    LANG_ORDER; 'und' (undetermined) when no stopword hits at all."""
    toks = tokens_expr(F.col(text_col))

    def score(stopwords: tuple[str, ...]) -> Column:
        # closure factory: a 2-arg lambda would be misread as (elem, index)
        words = list(stopwords)
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(words)))

    scores = [score(sw).alias(f"_s_{lang}") for lang, sw in LANG_STOPWORDS.items()]
    scored = df.select(F.col(id_col), *scores)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties → apply last
        pred = F.when(F.col(f"_s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased text with whitespace
    runs collapsed — a deterministic rolling-hash stand-in that two engines
    can agree on byte-for-byte."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def hashing_vectorize(
    df: DataFrame, id_col: str, text_col: str, *, dim: int = 32,
) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectorizer: each token is
    hashed into one of ``dim`` buckets with a ±1 sign bit, and the document
    vector is the signed token-count per bucket — the classic HashingTF/
    hashing-vectorizer representation, model-free and vocabulary-free, so
    text flows straight into the cosine/LSH/IVF ANN operators without an
    embedding service. Empty documents yield the zero vector (which the ANN
    pre-filters drop, zero-norm contract).

    Portability: bucket = ``portable_hash60(token) % dim`` and sign = parity
    of the md5's 16th hex digit — both reproducible bit-for-bit in DuckDB,
    and the vector entries are exact integer sums (order-independent), so
    oracles agree exactly regardless of assembly shape.

    Scale shape (measured): explode tokens → hash once per token → partial
    groupBy(id, bucket) → per-doc map → dim-length array. The per-token
    work is O(n_tokens) and the map-side partial aggregation collapses each
    doc to ≤ dim entries BEFORE the exchange, so the shuffle carries
    ~docs × dim tiny rows, not the token stream. The rejected alternative —
    a shuffle-free per-row aggregate/transform fold — costs
    O(n_tokens × dim) interpreted branch evaluations and measured 39%
    SLOWER at sf1 even at dim=32 (7.3 s vs 4.5 s on 50k docs), with the gap
    growing linearly in dim. Docs with no tokens (empty or NULL text) come
    back as the zero vector via the left join."""
    from .dedup import portable_hash60

    toks = tokens_expr(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(toks).alias("_t"))
    sums = (
        ex.select(
            id_col,
            (portable_hash60(F.col("_t")) % dim).alias("_b"),
            F.when(F.conv(F.substring(F.md5(F.col("_t")), 16, 1), 16, 10).cast("long") % 2 == 0,
                   F.lit(1.0)).otherwise(F.lit(-1.0)).alias("_s"))
        .groupBy(id_col, "_b").agg(F.sum("_s").alias("_v"))
        .groupBy(id_col).agg(F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_v")))).alias("_m"))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("long")), F.lit(0.0)))
    return (df.select(id_col).join(sums, id_col, "left")
            .select(F.col(id_col), vec.alias("vec")))


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals for training-data quality filtering
    (Rae et al. 2021 §A1.1): per document, the fraction of word occurrences
    that are repeats (1 - distinct/total) and the fraction of word bigrams
    taken by the single most frequent bigram. High values flag boilerplate
    and degenerate repetition.

    All built-ins: split/explode + two aggregations — per-doc keyed shuffles,
    linear in corpus size, no Python in the loop."""
    # coalesce: NULL-text docs must score (as empty), not vanish. Bigrams
    # via slice+zip_with, not sequence(1, size-1): Spark's sequence runs
    # DESCENDING when start > stop, so a one-token doc would produce [1, 0]
    # and element_at(_t, 2) would fail out of bounds; slice with
    # length 0 just yields no bigrams.
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = df.select(F.col(id_col), toks.alias("_t"))
    words = (
        base.select(F.col(id_col), F.explode("_t").alias("_w"))
        .groupBy(id_col)
        .agg(F.countDistinct("_w").alias("_du"), F.count(F.lit(1)).alias("_nw"))
    )
    bigrams = (
        base.select(
            F.col(id_col),
            F.expr(
                "zip_with(slice(_t, 1, greatest(size(_t) - 1, 0)),"
                " slice(_t, 2, greatest(size(_t) - 1, 0)),"
                " (a, b) -> concat(a, ' ', b))"
            ).alias("_bgs"),
        )
        .select(F.col(id_col), F.explode("_bgs").alias("_bg"))
        .groupBy(id_col, "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_topc"), F.sum("_c").alias("_total"))
    )
    # left join: docs with no bigrams (zero or one token) keep a row with
    # top_bigram_frac 0.0 instead of dropping out of the quality report
    return words.join(bigrams, id_col, "left").select(
        F.col(id_col),
        F.round(F.lit(1.0) - F.col("_du") / F.col("_nw"), 4).alias("dup_word_frac"),
        F.round(F.coalesce(F.col("_topc") / F.col("_total"), F.lit(0.0)), 4).alias("top_bigram_frac"),
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    buckets: int = 256,
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): per-document log importance weight
    between a TARGET distribution (rows where ``target`` is true — e.g. a
    trusted source) and the RAW corpus, over hashed n-gram features:

        feature space  = unigrams + space-joined bigrams, hashed into
                         ``buckets`` via portable_hash60 % buckets
        log w(d)       = sum over d's features f of n_d(f) * ln(p_tgt(b_f)
                         / p_raw(b_f)),  Laplace-smoothed (alpha = 0.5)

    High-weight documents look like the target; resampling the raw corpus
    by these weights is the published recipe for cheap quality-domain
    selection at pre-training scale. Returns (id, n_feats, log_weight);
    docs with no tokens (empty/NULL text) score 0 with n_feats 0.

    The per-bucket log ratio is quantized to floor(lr * 2^20) BIGINTs
    before the weighted sum (the bigram-LM trick), so scores are
    bit-identical across engines regardless of float summation order.

    Scale shape: corpus shuffles keyed on (doc, tgt, bucket) — map-side
    combine bounds them at docs x buckets rows, never the token stream;
    the bucket distribution table derives FROM that per-doc table (one
    groupBy bounded at ``buckets`` rows, totals via an all-rows window
    over it rather than a third aggregate branch) and joins back as a
    broadcast. The "model" (the two hashed LMs) is never collected to
    the driver as Python state — it lives in a <=buckets-row DataFrame,
    so the same plan serves a 100 TB raw corpus. Catalyst plans the
    scoring and model branches as two passes over the token stream
    (measured: no ReusedExchange across the fork); recomputing one
    bounded explode beats persisting a half-corpus-sized (doc, bucket)
    intermediate, so the two-pass shape is the intended trade. No
    reference equivalent (beyond-reference LLM-ops suite)."""
    from .dedup import portable_hash60

    toks = df.select(
        F.col(id_col),
        tokens_expr(F.col(text_col)).alias("_t"),
        target.alias("_tgt"),
    )
    feats = F.concat(
        F.col("_t"),
        F.when(F.size("_t") >= 2, F.expr(
            "transform(slice(_t, 1, size(_t) - 1), (w, i) -> concat(w, ' ', _t[i + 1]))"
        )).otherwise(F.array().cast("array<string>")),
    )
    ex = toks.select(F.col(id_col), F.col("_tgt"), F.explode(feats).alias("_f")).select(
        F.col(id_col), F.col("_tgt"),
        (portable_hash60(F.col("_f")) % buckets).alias("_b"),
    )
    # the bucket distribution derives FROM the per-doc table (not from the
    # raw exploded stream) so both aggregates sit on ONE identical exchange
    # subtree — AQE's ReusedExchange runs the token explode once; a second
    # groupBy over `ex` would re-scan and re-explode the whole corpus
    doc_b = ex.groupBy(F.col(id_col), F.col("_tgt"), "_b").agg(
        F.count(F.lit(1)).alias("_n"))
    bc = doc_b.groupBy("_b").agg(
        F.sum("_n").alias("_cr"),
        F.sum(F.when(F.col("_tgt"), F.col("_n")).otherwise(F.lit(0))).alias("_ct"),
    )
    # totals via an all-rows window over the <=buckets-row table instead of
    # a separate agg branch: a distinct `tot` DataFrame would re-run the
    # whole explode->doc_b->bc chain a third time (Catalyst plans each
    # consumer's chain independently here), while the window is a single
    # in-stage pass over <=buckets rows
    from pyspark.sql import Window as _W

    wall = _W.partitionBy()
    half_b = F.lit(0.5 * buckets)
    ratio = bc.select(
        "_b",
        F.floor(
            (F.log((F.col("_ct") + 0.5) / (F.sum("_ct").over(wall) + half_b))
             - F.log((F.col("_cr") + 0.5) / (F.sum("_cr").over(wall) + half_b)))
            * F.lit(1048576)
        ).cast("long").alias("_qlr"),
    )
    scored = (
        doc_b.join(F.broadcast(ratio), "_b")
        .groupBy(F.col(id_col))
        .agg(
            F.sum("_n").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("_n") * F.col("_qlr")) / F.lit(1048576.0), 6)
            .alias("log_weight"),
        )
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
    )
