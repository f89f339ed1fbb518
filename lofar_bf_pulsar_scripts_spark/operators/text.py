"""Text-analysis operators for large-scale training-data pipelines
(BASELINE.json north star: language-ID, quality scoring, token
counting, fingerprinting over the ``documents`` table).

Everything here is pure ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no UDFs: at 100 TB these are scan+project
pipelines with zero shuffle (aggregations happen in the callers).

Tokenization rule (shared with the DuckDB oracles): lower, trim,
split on ``\\s+``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# tiny marker-word inventories for the n-gram/stopword language
# heuristic; literal alternations keep Java-regex and RE2 semantics
# identical.
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|you|that)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "es": r"\b(el|la|los|las|es|una|que)\b",
    "fr": r"\b(le|les|des|est|une|dans|que)\b",
    "zh": r"(的|是|了|在|我|不)",
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # deterministic tie-break

STOPWORD_RE = r"\b(the|a|an|and|or|of|to|in|is|it)\b"
PUNCT_CLASS = r"[.,;:!?]"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    training-data chunking primitive (context-window packing input).

    Chunk c starts at token ``c*stride`` (0-based) and spans
    ``min(chunk_tokens, n - start)`` tokens; with ``stride <
    chunk_tokens`` consecutive chunks overlap by ``chunk_tokens -
    stride`` tokens. Every document yields >= 1 chunk (an empty text
    is one empty chunk), and every token is covered.

    Returns (id, chunk_idx, chunk_start, chunk_len, chunk_md5,
    chunk_text). Scale shape: pure projection + generator explode
    (fan-out factor n/stride) — zero shuffle, whole-stage codegen;
    the md5 fingerprint feeds straight into the exact-dedup /
    contamination operators on chunk granularity.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        # the docstring's "every token is covered" guarantee would be
        # silently broken: tokens in (start+chunk_tokens, start+stride)
        # would belong to no chunk.
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) leaves "
            "uncovered token gaps between chunks"
        )
    # NULL text behaves as empty text (one empty chunk): without the
    # coalesce, size(NULL)=-1 flows through greatest/least (which skip
    # NULLs) into an inconsistent (chunk_len=chunk_tokens, text='') row.
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
    )
    ch = d.select(
        id_col,
        "__toks",
        "__n",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk_len = F.least(F.lit(chunk_tokens), F.col("__n") - F.col("chunk_start"))
    chunk_text = F.concat_ws(
        " ", F.slice(F.col("__toks"), F.col("chunk_start") + 1, chunk_len)
    )
    return ch.select(
        id_col,
        "chunk_idx",
        "chunk_start",
        chunk_len.alias("chunk_len"),
        F.md5(chunk_text).alias("chunk_md5"),
        chunk_text.alias("chunk_text"),
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles; [] when the document has < k tokens.
    (Spark's sequence(1, n) is DESCENDING for n<1, hence the guard.)

    The token array is bound ONCE as a lambda variable: a captured
    outer expression inside a higher-order-function lambda is
    re-evaluated per element (SCALE.md pitfall 1 / the minhash
    measurement), so referencing ``tokens(col)`` directly from the
    per-shingle lambda re-ran the tokenizer regex k times per
    shingle — quadratic per document (measured: repetition_stats at
    17 s for sf0.1 under the noop executor; ~1.4 s with the bound
    form). ``transform(array(tokens), build)[0]`` is the same
    bind-once trick as ``similarity.int8_quantize``."""

    def build(w: Column) -> Column:
        n = F.size(w)

        def shingle(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(k)]
            )

        return F.when(
            n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), shingle)
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(tokens(col)), build)[0]


def corpus_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide unigram counts: (tok, cnt). One explode + one hash
    agg with map-side combine — the 'training' half of the
    vocabulary-coverage quality signal."""
    return (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_below: int = 5,
    common_at_least: int = 100,
) -> DataFrame:
    """Per-document vocabulary-coverage quality score: how much of a
    document is rare (corpus count < ``rare_below``) vs common
    (>= ``common_at_least``) tokens. An integer-exact stand-in for a
    unigram-LM log-prob filter (log/exp are not correctly-rounded and
    diverge across engines; counts never do): high rare-fraction ≈
    high perplexity ≈ gibberish/OCR noise, high common-fraction ≈
    boilerplate.

    Scale shape: per-(doc, tok) pre-aggregation shrinks the exploded
    fact BEFORE the vocab join (Zipf heads collapse map-side), then
    one shuffle join on tok (AQE skew-split handles 'the'), one final
    agg on doc.
    """
    v = vocab if vocab is not None else corpus_vocab(df, text_col)
    dt = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("__k"))
    )
    # LEFT join + corpus-count-0 for misses: with a user-supplied
    # vocab, out-of-vocabulary tokens must count as maximally rare —
    # an inner join would silently drop them (undercounting n_tokens
    # and losing fully-OOV docs, i.e. exactly the docs the filter
    # exists to catch). With the self-derived vocab every token
    # matches and the left join degenerates to the inner one.
    cnt = F.coalesce(F.col("cnt"), F.lit(0))
    return (
        dt.join(v, on="tok", how="left")
        .groupBy(id_col)
        .agg(
            F.sum("__k").alias("n_tokens"),
            F.sum(
                F.when(cnt < rare_below, F.col("__k")).otherwise(0)
            ).alias("n_rare"),
            F.sum(
                F.when(cnt >= common_at_least, F.col("__k")).otherwise(0)
            ).alias("n_common"),
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals
    (cheap heuristics standard in pretraining-data filtering)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return (
        df.withColumn("n_chars_text", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "avg_token_len",
            (F.length(F.regexp_replace(F.trim(t), r"\s+", "")) / n_tok),
        )
        .withColumn(
            "punct_count",
            F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, "")),
        )
        .withColumn("stopword_count", F.regexp_count(F.lower(t), F.lit(STOPWORD_RE)))
        .withColumn("stopword_ratio", F.col("stopword_count") / n_tok)
    )


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-hit counts per language + deterministic argmax
    prediction (ties resolve in _LANG_ORDER)."""
    low = F.lower(F.col(text_col))
    out = df
    for lang in _LANG_ORDER:
        out = out.withColumn(
            f"score_{lang}", F.regexp_count(low, F.lit(LANG_MARKERS[lang]))
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    pred = F.lit(None).cast("string")
    # build CASE from last to first so earlier languages win ties
    for lang in reversed(_LANG_ORDER):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


# GPT2-style pretokenizer approximation: word pieces, numbers, and
# single punctuation marks each count as one token (the real BPE then
# merges/splits within these — this regex matches its pretokenization
# boundaries for ASCII text).
BPE_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish pretokenization regex — the
    cheap-but-honest token counter for pretraining-data budgeting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PRETOKEN_RE))


def fingerprint(col: Column | str) -> Column:
    """Whitespace-normalized md5 document fingerprint (near-exact
    dedup key; the rolling-hash analog of a content checksum)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(norm.cast("binary"))


# --- PII redaction (north star: training-data scrubbing) -------------

_PII_PATTERNS: list[tuple[str, str]] = [
    # order matters: emails before bare domains, long digit runs last
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"(?<![\w.])\+?\d[\d\s().-]{7,}\d(?![\w.])", "<PHONE>"),
]


def redact_pii(col: Column | str) -> Column:
    """Regex scrubbing of emails / IPv4 / phone-like digit runs — the
    standard pre-training redaction pass, entirely JVM-side
    (chained regexp_replace, no UDF). Patterns are deliberately
    conservative: recall over precision is the training-data trade."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column | str) -> Column:
    """Struct of per-category PII hit counts for corpus auditing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        *[
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(name)
            for (pat, token), name in zip(
                _PII_PATTERNS, ["emails", "ips", "phones"]
            )
        ]
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    score_scale: float = 1e6,
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF
    (score = tf * ln((N+1)/(df+1))), the classic corpus keyword /
    stopword screen.

    Scale shape: term-frequency and document-frequency are two hash
    aggregations (map-side partials); the tf<->df join shuffles on
    term (skewed head terms -> AQE skew-join); the per-doc top-k
    window partitions on doc_id with per-doc term cardinality, never
    corpus cardinality, and Spark plans the rank<=k filter as
    WindowGroupLimit. The score is quantized to integer micro-units
    AFTER the one fixed double expression, so ranking ties resolve
    identically on any engine (tie-break: term ascending).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_q",
            F.floor(
                F.col("tf").cast("double") * idf * F.lit(float(score_scale))
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_q"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(id_col, "term", "score_q", F.col("rk").cast("int").alias("rk"))
    )


# --- Gopher-style quality rules (north star: pretraining filters) ----
#
# The published Gopher / MassiveText filter battery (word-count
# bounds, mean-word-length bounds, symbol-to-word ratio, alpha-word
# fraction, required stopwords, bullet/ellipsis line fractions).
# Every threshold comparison is expressed as an INTEGER
# cross-multiplication (3 <= mean_len <= 10 becomes 3n <= sum_len <=
# 10n), so the flags are bit-identical in any engine — the same
# integer-exactness rule the rest of this registry's oracles follow
# (no float ratios in compared columns).

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    keep_text: bool = False,
) -> DataFrame:
    """Per-document Gopher rule flags. Returns the integer components
    (n_words, sum_word_len, n_alpha_words, n_symbols, n_stopwords,
    n_lines, n_bullet_lines, n_ellipsis_lines) plus one boolean per
    rule and ``pass_all``.

    Scale shape: pure scan+project (one pass, zero shuffle, whole-
    stage codegen); callers aggregate. The token and line arrays are
    each bound ONCE per row via the nested-lambda trick (SCALE.md
    pitfall 1: a captured outer expression inside a higher-order
    lambda is re-evaluated per reference, so the naive form re-ran
    the tokenizer regex ~10x per row)."""
    t = F.coalesce(F.col(text_col), F.lit(""))

    def tok_stats(w: Column) -> Column:
        return F.struct(
            F.size(w).cast("long").alias("n_words"),
            F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
            .cast("long")
            .alias("n_alpha"),
            sum(
                F.array_contains(w, s).cast("long") for s in GOPHER_STOPWORDS
            )
            .cast("long")
            .alias("n_stop"),
        )

    def line_stats(lines: Column) -> Column:
        return F.struct(
            F.size(lines).cast("long").alias("n_lines"),
            F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
            .cast("long")
            .alias("n_bullet"),
            F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.\s*$")))
            .cast("long")
            .alias("n_ell"),
        )

    ts = F.transform(F.array(tokens(t)), tok_stats)[0]
    ls = F.transform(F.array(F.split(t, r"\n")), line_stats)[0]
    # total word length = chars minus whitespace (exact, no per-word loop)
    sum_len = F.length(F.regexp_replace(F.trim(t), r"\s+", "")).cast("long")
    n_sym = (
        F.regexp_count(t, F.lit(r"#")) + F.regexp_count(t, F.lit(r"\.\.\."))
    ).cast("long")
    # keep_text=True lets a caller FILTER on the flags per-row and
    # keep going with the text in the same scan — a funnel that
    # instead semi-joins back to the corpus on id pays one extra
    # corpus scan + a join per consumer (r14: training_data_stats)
    d = df.select(
        F.col(id_col),
        *([F.col(text_col)] if keep_text else []),
        *[c for c in df.columns if c != id_col and c != text_col],
        ts["n_words"].alias("n_words"),
        sum_len.alias("sum_word_len"),
        ts["n_alpha"].alias("n_alpha_words"),
        n_sym.alias("n_symbols"),
        ts["n_stop"].alias("n_stopwords"),
        ls["n_lines"].alias("n_lines"),
        ls["n_bullet"].alias("n_bullet_lines"),
        ls["n_ell"].alias("n_ellipsis_lines"),
    )
    nw = F.col("n_words")
    rules = {
        # word count within [min_words, max_words]
        "r_word_count": (nw >= min_words) & (nw <= max_words),
        # mean word length in [3, 10]: 3n <= sum_len <= 10n
        "r_mean_word_len": (F.col("sum_word_len") >= 3 * nw)
        & (F.col("sum_word_len") <= 10 * nw),
        # symbol-to-word ratio <= 0.1: 10*symbols <= words
        "r_symbol_ratio": F.lit(10) * F.col("n_symbols") <= nw,
        # >= 80% of words contain an alphabetic char: 5*alpha >= 4*words
        "r_alpha_words": F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * nw,
        # >= 2 of the 8 required stopwords present
        "r_stopwords": F.col("n_stopwords") >= 2,
        # <= 90% of lines start with a bullet (Gopher removes only
        # documents strictly ABOVE the threshold): 10*bullet <= 9*lines
        "r_bullet_lines": F.lit(10) * F.col("n_bullet_lines")
        <= F.lit(9) * F.col("n_lines"),
        # <= 30% of lines end with an ellipsis: 10*ell <= 3*lines
        "r_ellipsis_lines": F.lit(10) * F.col("n_ellipsis_lines")
        <= F.lit(3) * F.col("n_lines"),
    }
    return d.select(
        "*",
        *[cond.alias(name) for name, cond in rules.items()],
        # conjunction inlined (not an F.aggregate fold over an array
        # of booleans — the fold alone roughly doubled codegen time)
        (
            rules["r_word_count"]
            & rules["r_mean_word_len"]
            & rules["r_symbol_ratio"]
            & rules["r_alpha_words"]
            & rules["r_stopwords"]
            & rules["r_bullet_lines"]
            & rules["r_ellipsis_lines"]
        ).alias("pass_all"),
    )


# --- integer-exact bigram language-model quality score ----------------

def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document add-one-smoothed bigram LM likelihood score, the
    classic LM-based quality filter (docs whose bigrams are improbable
    under a corpus-trained model are gibberish/OCR noise; docs scoring
    very high are boilerplate).

    Instead of summing float log-probs (non-associative; the sum
    order differs between engines, so the rounded result can flip),
    each bigram contributes an INTEGER parts-per-million probability

        ppm(w1 w2) = (1_000_000 * (c(w1,w2) + 1)) DIV (c(w1) + V)

    where c() are corpus counts and V the unigram vocabulary size.
    Integer division is exact in every engine, integer sums are
    associative, so (doc_id, n_bigrams, score_sum, avg_ppm) hash-gates
    cross-engine. Monotonicity in the true smoothed probability is
    preserved per bigram, which is all a threshold filter consumes.

    Scale shape: the model IS two aggregations of the corpus itself
    (bigram counts + unigram counts, each one shuffle with map-side
    combine over Zipf-collapsed keys); scoring pre-aggregates
    per-(doc, bigram) multiplicities before the model join (one
    shuffle on the bigram key, AQE skew-split handles stop-bigram
    heads), then one final per-doc agg. Nothing is collected; the
    vocabulary-size scalar joins as a broadcast literal row."""
    w = tokens(F.coalesce(F.col(text_col), F.lit("")))

    def build(warr: Column) -> Column:
        n = F.size(warr)

        def bg(i: Column) -> Column:
            return F.concat_ws(" ", F.element_at(warr, i), F.element_at(warr, i + 1))

        return F.when(
            n >= 2, F.transform(F.sequence(F.lit(1), n - 1), bg)
        ).otherwise(F.array().cast("array<string>"))

    # bind the token array once (SCALE.md pitfall 1)
    bigrams = F.transform(F.array(w), build)[0]

    # NOTE (r15): a spread_small_scan of (id, text) here was
    # A/B-measured and REJECTED (2.25 -> 2.63 s): the unigram branch
    # prunes id_col, so the two branches canonicalize to DIFFERENT
    # exchanges and the text column is shuffled twice instead of the
    # hoped-for ReusedExchange.
    toks = df.select(F.explode(w).alias("tok"))
    unigram = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = unigram.agg(F.count(F.lit(1)).alias("v"))

    doc_bg = (
        df.select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("mult"))
    )
    # the bigram model is DERIVED from the per-(doc, bigram) table —
    # c12 = sum(mult) — never a second explode+tokenize scan of the
    # raw corpus (the same derivation dsir_importance uses)
    model = doc_bg.groupBy("bg").agg(F.sum("mult").alias("c12"))
    scored = (
        doc_bg.join(model, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(unigram.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .withColumn(
            "ppm",
            F.expr("CAST((1000000 * (c12 + 1)) DIV (c1 + v) AS BIGINT)"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("mult").alias("n_bigrams"),
            F.sum(F.col("ppm") * F.col("mult")).alias("score_sum"),
        )
        .withColumn(
            "avg_ppm", F.expr("CAST(score_sum DIV n_bigrams AS BIGINT)")
        )
    )


def remove_shared_chunks(
    df: DataFrame,
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style boilerplate REMOVAL: drop every non-overlapping
    ``chunk_tokens``-token chunk that also occurs in another document
    (navigation bars, cookie banners, licence footers) and reassemble
    the surviving chunks in document order. Returns (id, n_kept_chunks,
    n_tokens_kept, cleaned_text) — the cleaning counterpart of the
    chunk_dedup_stats diagnostic.

    Scale shape: one shuffle on chunk_md5 for the frequency table,
    one join back, one per-doc agg whose collect_list is bounded by
    the document's own chunk count (array_sort on (chunk_idx, text)
    structs makes the reassembly order deterministic regardless of
    partitioning). Docs whose every chunk is shared survive with
    empty cleaned text (left join from the id universe)."""
    ch = chunk_documents(
        df, chunk_tokens=chunk_tokens, stride=chunk_tokens,
        id_col=id_col, text_col=text_col,
    )
    freq = ch.groupBy("chunk_md5").agg(
        F.count_distinct(id_col).alias("__n_docs")
    )
    kept = ch.join(freq, on="chunk_md5").filter(F.col("__n_docs") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept_chunks"),
        F.sum("chunk_len").alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
        ).alias("cleaned_text"),
    )
    ids = df.select(id_col).distinct()
    return ids.join(rebuilt, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
        F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


# --- linear quality classifier (model-based filter stage) -------------

# Committed integer model: per-mille weights over integer-ppm
# features.  Stands in for the fastText-style learned quality filter
# every production curation pipeline runs AFTER the rule battery
# (gopher_quality_flags) — the ENGINE contract is identical for real
# learned weights (swap the dict), and integer weights x ppm features
# keep the score engine-exact.
QUALITY_WEIGHTS_PER_MILLE: dict[str, int] = {
    "bias_x1e6": 200_000,
    "alpha_ratio": 400,       # fraction of words with a letter
    "stopword_ratio": 300,    # required-stopword density
    "symbol_ratio": -500,     # #/... density penalty
    "bullet_line_ratio": -200,
    "ellipsis_line_ratio": -200,
    "length_bonus_x1e6": 100_000,  # n_words in [50, 100000]
}
QUALITY_KEEP_THRESHOLD_X1E6 = 650_000


def quality_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, int] | None = None,
    threshold_x1e6: int = QUALITY_KEEP_THRESHOLD_X1E6,
) -> DataFrame:
    """Per-document linear quality score over the gopher feature
    extraction, exact-integer end to end: each ratio feature is
    floor(1e6 * count / total) ppm, each weight is integer
    per-mille, score_x1e6 = bias + sum(w * f // 1000) + the length
    bonus. Returns (id, score_x1e6, keep).

    One scan, zero shuffle (rides gopher_quality_flags' single-pass
    projection); the model is a dozen literals folded into codegen —
    the 100 TB cost is the same as the rule battery it follows."""
    w = dict(QUALITY_WEIGHTS_PER_MILLE)
    if weights:
        w.update(weights)
    feats = gopher_quality_flags(df, id_col=id_col, text_col=text_col)
    nw = F.col("n_words")

    def term(key: str, count_col: str, total_col: str):
        # weight * ppm // 1000 with the DIVISION ALWAYS ON A
        # NON-NEGATIVE numerator: Spark's DIV truncates toward zero
        # while DuckDB's // floors, so a negative weight must be
        # applied as -((|w| * f) DIV 1000) — both engines then agree
        # bit-for-bit (counts and totals are non-negative).
        wk = int(w[key])
        mag = F.expr(
            f"CAST({abs(wk)} * (CAST(1000000 * {count_col} AS BIGINT) "
            f"DIV {total_col}) AS BIGINT) DIV 1000"
        )
        return mag if wk >= 0 else -mag

    score = (
        F.lit(int(w["bias_x1e6"]))
        + term("alpha_ratio", "n_alpha_words", "n_words")
        + term("stopword_ratio", "n_stopwords", "n_words")
        + term("symbol_ratio", "n_symbols", "n_words")
        + term("bullet_line_ratio", "n_bullet_lines", "n_lines")
        + term("ellipsis_line_ratio", "n_ellipsis_lines", "n_lines")
        + F.when(
            (nw >= 50) & (nw <= 100_000),
            F.lit(int(w["length_bonus_x1e6"])),
        ).otherwise(F.lit(0))
    ).cast("long")
    return feats.select(
        F.col(id_col),
        score.alias("score_x1e6"),
        (score >= F.lit(int(threshold_x1e6))).alias("keep"),
    )
