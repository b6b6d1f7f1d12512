"""Text-analysis operators for the documents table: language ID, token
counting, document fingerprinting.

Everything here is pure Column algebra (JVM-side, codegen'd) so it runs at
scan speed with predicate pushdown intact — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def token_count(col: Column) -> Column:
    """Whitespace tokenization count (0 for empty/blank)."""
    return F.when(F.trim(col) == "", 0).otherwise(F.size(F.split(F.trim(col), r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    punctuation singletons (the regex families BPE merges start from)."""
    stripped = F.regexp_replace(col, r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]", "x")
    return F.length(F.regexp_replace(stripped, r"\s+", ""))


def ascii_ratio(col: Column) -> Column:
    return F.when(F.length(col) == 0, F.lit(1.0)).otherwise(
        F.length(F.regexp_replace(col, "[^\\x00-\\x7F]", "")) / F.length(col)
    )


def lang_id_heuristic(col: Column) -> Column:
    """N-gram/script heuristic language ID: CJK chars -> 'zh'; high
    non-ASCII ratio -> 'other'; else stopword sniff for 'en'."""
    cjk = F.length(F.regexp_replace(col, "[^\\u4E00-\\u9FFF]", ""))
    has_en_stop = F.regexp_like(
        F.concat(F.lit(" "), F.lower(col), F.lit(" ")),
        F.lit(r".*\s(the|and|of|is)\s.*"),
    )
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when(ascii_ratio(col) < 0.7, F.lit("other"))
        .when(has_en_stop, F.lit("en"))
        .otherwise(F.lit("latin"))
    )


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed, trimmed text. Stable under formatting noise."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


def rolling_hashes(col: Column, window: int = 8) -> Column:
    """Winnowing-style window fingerprints: array of xxhash64 values of
    each ``window``-word sliding n-gram (for containment/overlap detection;
    the distributed analog of MOSS fingerprinting)."""
    words = F.split(F.trim(col), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    return F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, window)))
    )


# --------------------------------------------------------- PII redaction

# Conservative, engine-portable patterns: plain character classes and
# counted repetition only — no lookaround, no backreferences — so Java
# regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte. Email per
# the practical HTML5 subset; phone matches the TPC-H/JPKSJ catalog shape
# NN-NNN-NNN-NNNN (reference stores contact columns verbatim; a curation
# pass must scrub them before corpus export).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_email_count(col: Column) -> Column:
    """Number of email-shaped spans (counted BEFORE redaction)."""
    return F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), F.lit(0))).cast("long")


def pii_phone_count(col: Column) -> Column:
    """Number of phone-shaped spans (counted BEFORE redaction)."""
    return F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), F.lit(0))).cast("long")


def redact_pii(col: Column) -> Column:
    """Replace email then phone spans with typed placeholders. Order
    matters: emails first, so a digit-bearing local part can't be half
    eaten by the phone pattern. Pure Column algebra — the scrub runs at
    scan speed inside whole-stage codegen, no Python in the hot path."""
    scrubbed = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")


# ------------------------------------------- Gopher-style repetition stats

def _bigrams_expr() -> Column:
    """Adjacent-word bigrams ('w1 w2' strings) of the ``_w`` token array.
    The size<2 guard is load-bearing: Spark's sequence(1, 0) is a
    DESCENDING [1, 0], not empty, so a bare transform would index out of
    bounds on single-word docs."""
    return F.expr(
        "CASE WHEN size(_w) < 2 THEN CAST(array() AS ARRAY<STRING>)"
        " ELSE transform(sequence(1, size(_w) - 1),"
        " i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1))) END"
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition features (the Gopher/MassiveText repetition
    rules, re-expressed as two keyed aggregations): distinct-word ratio,
    most-common-word fraction, and most-common-bigram fraction.

    100-TB shape: ONE explode per granularity followed by a two-phase
    hash aggregate keyed on (doc, token) then (doc) — partial aggregation
    combines map-side, the exchange carries (id, token-hash-sized rows),
    and both granularities join on the high-cardinality doc id. No
    all-pairs, no window over the corpus, no Python.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col).alias("_id"), words.alias("_w"))

    def _top_frac(tokens: Column, prefix: str) -> DataFrame:
        tok = base.select("_id", F.explode(tokens).alias("_t"))
        per_tok = tok.groupBy("_id", "_t").agg(F.count("*").alias("_n"))
        return per_tok.groupBy("_id").agg(
            F.sum("_n").alias(f"{prefix}_total"),
            F.max("_n").alias(f"{prefix}_top_n"),
            F.count("*").alias(f"{prefix}_distinct"),
        )

    w = _top_frac(F.col("_w"), "w")
    b = _top_frac(_bigrams_expr(), "b")
    return (
        w.join(b, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("w_total").alias("n_words"),
            F.round(F.col("w_distinct") / F.col("w_total"), 4).alias("distinct_word_ratio"),
            F.round(F.col("w_top_n") / F.col("w_total"), 4).alias("top_word_frac"),
            F.round(
                F.coalesce(F.col("b_top_n") / F.col("b_total"), F.lit(0.0)), 4
            ).alias("top_bigram_frac"),
        )
    )


# --------------------------------------- CCNet-style LM perplexity filter

def bigram_lm_scores(
    train: DataFrame,
    score: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """CCNet-style quality filter: score each document by its perplexity
    under an add-k-smoothed bigram language model trained on ``train``
    (self-scoring when ``score`` is None — the classic
    "rank the corpus by its own LM" curation pass).

    P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V), with context counts
    derived from the bigram table itself (c(w1) = sum over w2) and V the
    distinct-unigram vocabulary size. Returns per-doc n_bigrams, average
    negative log-likelihood (natural log, rounded to 6 — ln is not
    correctly rounded across engines but 1-ulp noise dies at 1e-6), and
    perplexity exp(avg_nll) computed FROM the rounded nll so any oracle
    replays it bit-for-bit.

    100-TB shape: the LM is two keyed two-phase aggregations over the
    exploded corpus (bigram, then context); scoring joins doc bigrams to
    the LM on the high-cardinality, well-distributed bigram key — a plain
    shuffle hash join, no broadcast of corpus-sized state (V travels as a
    broadcast single-row frame). Unseen bigrams (scoring a frame the LM
    never saw) back off to k/(k*V) via left joins. No all-pairs, no
    Python, no window over the corpus.
    """
    if score is None:
        score = train
    kk = F.lit(float(k))

    def _bigrams(df: DataFrame) -> DataFrame:
        words = F.split(F.trim(F.col(text_col)), r"\s+")
        base = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
        return base.select("_id", F.explode(_bigrams_expr()).alias("bg"))

    corpus = _bigrams(train)
    lm = corpus.groupBy("bg").agg(F.count("*").cast("double").alias("c12"))
    ctx = (
        lm.select(F.substring_index("bg", " ", 1).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    words_all = train.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_t")
    )
    vocab = words_all.agg(F.countDistinct("_t").cast("double").alias("vsz"))

    doc_bg = _bigrams(score).withColumn("w1", F.substring_index("bg", " ", 1))
    p = (F.coalesce(F.col("c12"), F.lit(0.0)) + kk) / (
        F.coalesce(F.col("c1"), F.lit(0.0)) + kk * F.col("vsz")
    )
    per_doc = (
        doc_bg.join(lm, "bg", "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 6).alias("avg_nll"),
        )
    )
    return (
        score.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("avg_nll"),
            F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
        )
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 10000,
    persist_pairs: bool = False,
) -> DataFrame:
    """Inverted index build: token -> document frequency + the sorted
    posting list (the retrieval-side table a curation/search pipeline
    materializes next to BM25 scoring). Whitespace tokenization matches
    the engine's BM25/token-count convention so the same SQL oracle
    tokenizer applies.

    Plan shape at 10^12 docs: split+explode stays in codegen and the
    (token, doc) pairs are DISTINCT-reduced with map-side partial
    aggregation. Posting lists are the scale hazard (a stopword's list
    is the corpus), so the cap bounds the AGGREGATION BUFFER, not just
    the output: a first count-only pass computes exact ``df`` per token
    (fixed-width rows, no lists anywhere), a semi-join keeps only
    under-cap tokens for the collect_list pass — a corpus-wide stopword
    never materializes a list on any executor — and over-cap tokens
    come back with exact ``df`` + NULL postings. The production layout
    shards those tokens into (token, bucket) posting segments instead.

    Returns (token, df, postings) with postings a comma-joined sorted
    id string (NULL past ``max_postings``), df the exact distinct-doc
    count."""
    pairs = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    if persist_pairs:
        # three plan subtrees consume pairs (df count, semi filter,
        # posting build); caching trades memory for one compute. The
        # frame is CORPUS-SCALE (one row per distinct (token, doc) pair,
        # token strings included) and the cache outlives the returned
        # lazy frame, so this is opt-in: right for bounded corpora and
        # interactive sessions, wrong as a default at 10^12 docs — there,
        # either accept the re-scan (two-pass is the memory-bounding
        # trade) or materialize pairs to a table explicitly.
        pairs = pairs.persist()
    dfreq = pairs.groupBy("token").agg(F.count("*").alias("df"))
    small = pairs.join(
        dfreq.filter(F.col("df") <= max_postings).select("token"),
        "token",
        "left_semi",
    )
    postings = small.groupBy("token").agg(
        F.array_join(F.array_sort(F.collect_list("_doc")), ",").alias("postings")
    )
    out = dfreq.join(postings, "token", "left").select("token", "df", "postings")
    # expose the persisted handle so a caller that materializes the result
    # can release the corpus-scale pairs cache (round-7 advice fix); None
    # when persist_pairs was off
    out._jpspark_pairs = pairs if persist_pairs else None
    return out
