"""Text analysis operators over a document table (documents fixture).

All pure built-in-function column pipelines (JVM/codegen, no UDFs):
token counting, quality scoring, n-gram/marker language ID, and
content fingerprinting. Each ``with_*`` returns the input plus new
columns so they compose into one scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deftunes_spark.ext.lineage import cut_lineage

# Marker stopwords per language (public linguistic common-word lists).
# Word-boundary regex alternation; scoring = marker hits per token.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "une", "dans"],
    "es": ["el", "los", "las", "es", "que", "una", "por", "para"],
}
# Han characters mark zh without needing word segmentation.
ZH_CHAR_CLASS = "[\\u4e00-\\u9fff]"


def tokens_col(col: str = "text") -> Column:
    """Whitespace tokens of the trimmed text: the one tokenizer the
    shingle, MinHash and SimHash operators (and their SQL oracles)
    share. Empty or blank text yields ``[""]``."""
    return F.split(F.trim(F.col(col)), "[ \\t\\n\\x0B\\f\\r]+")


def with_token_count(df: DataFrame, col: str = "text") -> DataFrame:
    """Whitespace token count, matching Python ``str.split()``: blank /
    whitespace-only text has 0 tokens (``split`` alone would yield
    [""] → 1). The BPE-ish regex variant is ``with_subword_count``."""
    return df.withColumn(
        "token_count",
        F.size(
            F.filter(F.split(F.col(col), "[ \\t\\n\\x0B\\f\\r]+"), lambda t: t != "")
        ).cast("bigint"),
    )


def with_subword_count(df: DataFrame, col: str = "text") -> DataFrame:
    """BPE-ish proxy: count alnum runs and standalone punctuation, the
    units a byte-pair tokenizer would start from."""
    return df.withColumn(
        "subword_count",
        F.size(
            F.filter(
                F.split(F.col(col), "[^A-Za-z0-9]+"),
                lambda t: t != "",
            )
        ).cast("bigint")
        + F.length(F.regexp_replace(F.col(col), "[A-Za-z0-9 \\t\\n\\x0B\\f\\r]", ""))
        .cast("bigint"),
    )


def with_quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Length/punctuation/character-class ratios used for quality
    filtering of training corpora."""
    c = F.col(col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double")
    # Count the full \s class, matching the \s+ tokenizers use — an
    # ASCII-space-only count scores newline/tab-separated text as a
    # whitespace-free blob.
    space = F.length(F.regexp_replace(c, "[^ \\t\\n\\x0B\\f\\r]", "")).cast("double")
    nz = F.when(n > 0, n)
    return (
        df.withColumn("n_chars_m", n.cast("bigint"))
        .withColumn("alpha_ratio", F.coalesce(alpha / nz, F.lit(0.0)))
        .withColumn("digit_ratio", F.coalesce(digit / nz, F.lit(0.0)))
        .withColumn("space_ratio", F.coalesce(space / nz, F.lit(0.0)))
    )


def with_quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Composite 0..1 quality score: mostly-alphabetic, sane word
    lengths, not digit-noise. Deliberately simple arithmetic so it is
    exactly mirrorable in ANSI SQL (the correctness oracle)."""
    df = with_quality_features(df, col)
    df = with_token_count(df, col)
    avg_tok = F.when(
        F.col("token_count") > 0,
        F.col("n_chars_m").cast("double") / F.col("token_count"),
    ).otherwise(F.lit(0.0))
    raw = (
        F.col("alpha_ratio")
        - F.col("digit_ratio")
        - F.greatest(F.lit(0.0), F.abs(avg_tok - 6.0) - 3.0) * 0.1
    )
    return df.withColumn(
        "quality_score", F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw))
    )


def _marker_count(col: Column, words: list[str]) -> Column:
    pat = "(?i)\\b(" + "|".join(words) + ")\\b"
    return F.regexp_count(col, F.lit(pat)).cast("double")


def with_lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Marker-word / script language ID.

    Scores each candidate language by marker-stopword hits (Han-script
    chars for zh), picks the argmax with a fixed preference order on
    ties, 'und' when nothing matches. One regexp pass per language —
    all codegen, no UDF, no shuffle.
    """
    c = F.col(col)
    scores = {
        lang: _marker_count(c, words) for lang, words in LANG_MARKERS.items()
    }
    # Han char count without lookahead (RE2-compatible formulation):
    # total length minus length with Han chars removed.
    scores["zh"] = (
        F.length(c) - F.length(F.regexp_replace(c, ZH_CHAR_CLASS, ""))
    ).cast("double")
    df = df.withColumns({f"score_{k}": v for k, v in scores.items()})
    best = F.greatest(*[F.col(f"score_{k}") for k in scores])
    pred = F.lit("und")
    # Reverse preference order so earlier langs win ties.
    for lang in reversed(list(scores)):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return df.withColumn("lang_pred", pred).drop(
        *[f"score_{k}" for k in scores]
    )


def with_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Content fingerprints: full-content md5 plus a normalized key
    (lowercased, whitespace-collapsed) whose md5 catches trivially
    reformatted duplicates."""
    c = F.col(col)
    normalized = F.lower(F.regexp_replace(F.trim(c), "[ \\t\\n\\x0B\\f\\r]+", " "))
    return df.withColumn("fingerprint", F.md5(c)).withColumn(
        "normalized_fingerprint", F.md5(normalized)
    )


def term_counts(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """(doc, term) frequencies: explode lowercased whitespace tokens.
    The downstream shuffle key is the term — power-law skewed by
    nature, which AQE skew-split (or a stopword pre-filter) absorbs."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(col)), "[ \\t\\n\\x0B\\f\\r]+"), lambda t: t != ""
            )
        ).alias("term"),
    )
    return toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """TF-IDF weights per (doc, term): tf · ln(N/df).

    Two aggregations (per-doc term counts, per-term doc frequency) and
    one broadcast-size join on the term dictionary side when the vocab
    is small; N is a scalar driver value (one count job)."""
    tc = term_counts(df, id_col, col)
    n_docs = df.select(id_col).distinct().count()
    dfreq = tc.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return tc.join(dfreq, "term").select(
        id_col,
        "term",
        "tf",
        "df",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
            "tfidf"
        ),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k_smooth: float = 0.5,
    reliable: bool = False,
) -> DataFrame:
    """Model-based quality scoring with a corpus-trained bigram LM:
    score every document by its average bigram log-probability (and
    perplexity) under add-k smoothed counts from the SAME corpus —
    the classic "how typical is this document" signal (boilerplate
    and gibberish both land in the tails), no external model needed.

    P(w₂|w₁) = (C(w₁,w₂) + k) / (C(w₁) + k·V), V = corpus vocabulary.

    Shape at 100 TB: one tokenize scan feeds the bigram-count
    aggregate (single shuffle, term-skew absorbed by AQE) and the
    context-count aggregate derives from IT (not a second text pass);
    scoring joins occurrences back to the count tables on the bigram
    key, then one per-doc aggregate. V and nothing else is a driver
    scalar. Documents with fewer than 2 tokens carry no bigram
    evidence and are excluded (inner semantics).

    Returns (id, n_bigrams, avg_logp, perplexity), floats rounded to
    6 dp so cross-partition summation order cannot leak into the
    value hash.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(col))), "[ \\t\\n\\x0B\\f\\r]+"), lambda t: t != ""
    )
    big = (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1), "
                    "i -> struct(element_at(_t, i) AS w1, "
                    "element_at(_t, i + 1) AS w2))"
                )
            ).alias("_b"),
        )
        .select(F.col(id_col), F.col("_b.w1"), F.col("_b.w2"))
    )
    # Materialize the count table once: it feeds TWO branches (the
    # context-count rollup and the scoring join) and is bounded by the
    # observed-bigram vocabulary — orders of magnitude under the text,
    # while recomputing it would cost a full tokenize+aggregate pass
    # per branch.
    c2 = cut_lineage(
        big.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("bigint").alias("c2")
        ),
        reliable,
    )
    # Context counts derive from the bigram table: C(w1) = Σ_w2 C2 —
    # no second pass over the text.
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = (
        df.select(toks.alias("_t"))
        .select(F.explode("_t").alias("w"))
        .agg(F.count_distinct("w"))
        .collect()[0][0]
    )
    logp = F.log(
        (F.col("c2") + F.lit(float(k_smooth)))
        / (F.col("c1") + F.lit(float(k_smooth * vocab)))
    )
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
            F.round(F.exp(-F.avg(logp)), 6).alias("perplexity"),
        )
    )


def pack_sequences(
    df: DataFrame,
    context_tokens: int = 4096,
    id_col: str = "doc_id",
    col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic greedy sequence packing: assign documents to
    fixed-size context bins by running token count, sharded so the
    cumulative-sum window parallelizes (one shard = one window
    partition — at 100 TB use enough shards that a shard fits an
    executor; packing quality is unaffected because bins never span
    shards). Bin id = floor(tokens_before_doc / context)."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # pmod on a non-numeric id silently casts to NULL, collapsing
        # every row into one window partition — fail loudly instead;
        # string ids can shard via ext.sampling's md5-bucket helpers.
        raise TypeError(
            f"pack_sequences needs an integral id column for pmod "
            f"sharding; {id_col} is {id_type} — derive a numeric key "
            f"or use an md5-bucket shard (ext.sampling)"
        )
    with_tok = with_token_count(df, col).select(
        id_col, "token_count"
    )
    sharded = with_tok.withColumn(
        "shard", F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    return (
        sharded.withColumn(
            "tokens_before",
            F.sum("token_count").over(w) - F.col("token_count"),
        )
        .withColumn(
            "bin",
            F.floor(F.col("tokens_before") / context_tokens).cast(
                "bigint"
            ),
        )
        .select(id_col, "shard", "bin", "token_count")
    )


def with_repetition_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling
    Language Models" §A1.1 repetition filters), as pure array
    expressions over the token list — no explode, no shuffle:

    - ``distinct_token_ratio``: |set(tokens)| / |tokens| (low =
      repetitive boilerplate);
    - ``top_token_fraction``: occurrences of the most frequent token /
      |tokens| (Gopher caps this at 0.2 for unigrams);
    - ``symbol_token_ratio``: non-alphanumeric non-space characters
      per token (Gopher's symbol-to-word ratio, # and … proxies).

    The per-row cost of ``top_token_fraction`` is O(|vocab_row| × n)
    array scanning — bounded by row length, embarrassingly parallel,
    and still one codegen stage; for adversarially long documents
    switch to the explode+groupBy form.
    """
    toks = F.filter(F.split(F.trim(F.col(col)), "[ \\t\\n\\x0B\\f\\r]+"), lambda t: t != "")
    n = F.size(toks)
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)) / n)
    top_frac = F.when(
        n > 0,
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        )
        / n,
    )
    symbols = F.length(
        F.regexp_replace(F.col(col), "[A-Za-z0-9 \\t\\n\\x0B\\f\\r]", "")
    )
    sym_ratio = F.when(n > 0, symbols / n)
    return (
        df.withColumn(
            "distinct_token_ratio",
            F.coalesce(distinct_ratio, F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "top_token_fraction",
            F.coalesce(top_frac, F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "symbol_token_ratio",
            F.coalesce(sym_ratio, F.lit(0.0)).cast("double"),
        )
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    ns: tuple[int, ...] = (2, 3),
    round_to: int = 6,
) -> DataFrame:
    """The n-gram half of Gopher's repetition filters (Rae et al.
    2021 §A1.1): per document, for each n in ``ns``,

    - ``top_{n}gram_frac``: occurrences of the most frequent word
      n-gram / total n-gram occurrences (Gopher caps 2-grams at 0.2,
      3-grams at 0.18);
    - ``dup_{n}gram_frac``: fraction of n-gram OCCURRENCES whose gram
      appears more than once in the document (the duplicate-n-gram
      rule).

    This is the explode+groupBy form ``with_repetition_stats``'s
    docstring prescribes for long documents: the unigram operator's
    in-row O(|vocab|·len) array scan becomes quadratic wall-time on a
    single adversarially long row, while this plan is a keyed
    aggregation on (doc, gram) — per-task work tracks the SHUFFLE
    partition, not the longest row, so one 500 MB crawl artifact
    cannot straggle a 100 TB scan. Gram construction itself stays
    codegen (slice/concat over the token array; no UDF); the two
    shuffles per n hash on (doc, gram) then doc. Documents with fewer
    than n tokens report zero totals and fractions.
    """
    toks = F.filter(
        F.split(F.trim(F.col(col)), "[ \\t\\n\\x0B\\f\\r]+"),
        lambda t: t != "",
    )
    base = df.select(F.col(id_col), toks.alias("tk"))
    out = df.select(id_col)
    for n in ns:
        grams = F.when(
            F.size("tk") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("tk", i, n)),
            ),
        )
        cnt = (
            base.select(id_col, F.explode(grams).alias("gram"))
            .groupBy(id_col, "gram")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        agg = cnt.groupBy(id_col).agg(
            F.sum("c").alias("total"),
            F.max("c").alias("top"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias(
                "dup"
            ),
        )
        sel = agg.select(
            F.col(id_col),
            F.col("total").cast("bigint").alias(f"n_{n}grams"),
            F.round(F.col("top") / F.col("total"), round_to).alias(
                f"top_{n}gram_frac"
            ),
            F.round(F.col("dup") / F.col("total"), round_to).alias(
                f"dup_{n}gram_frac"
            ),
        )
        out = out.join(sel, id_col, "left")
    # Documents shorter than n tokens have no gram rows: zero-fill
    # (fillna covers the bigint totals and the double fractions).
    return out.fillna(0)


# PII scrubbing patterns (the canonical public shapes; a production
# pipeline composes more). Applied in order — emails first so their
# digits can't be half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # No leading \b: '(' and '+' are non-word chars, so a boundary
    # there never exists; no lookbehind either (DuckDB's RE2 lacks it).
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        r"(?:\+?\d{1,2}[ -])?(?:\(\d{3}\)\s?|\d{3}[ -]?)\d{3}[ -]?\d{4}\b",
        "<PHONE>",
    ),
)


def with_pii_scrubbed(
    df: DataFrame, col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """Training-data PII redaction: email and phone patterns replaced
    by typed placeholder tokens, plus a per-document redaction count.
    Chained ``regexp_replace`` — single codegen stage, order fixed by
    ``PII_PATTERNS``. Counting: redactions = placeholder occurrences
    after the rewrite (placeholders are chosen to never occur in
    input)."""
    scrubbed = F.col(col)
    for pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out = df.withColumn(out_col, scrubbed)
    n_redacted = sum(
        F.size(F.split(F.col(out_col), repl.replace("<", "\\<"), -1)) - 1
        for _, repl in PII_PATTERNS
    )
    return out.withColumn(
        "n_redacted", n_redacted.cast("bigint")
    )


def with_nfc_normalized(
    df: DataFrame, col: str = "text", out_col: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization — the canonical first step of any
    multilingual corpus prep (composes combining sequences so
    'e'+U+0301 and 'é' dedup/fingerprint identically).

    Spark has no built-in Unicode normalizer, so this is the honest
    UDF case: an Arrow-batched pandas UDF over ``unicodedata`` (C
    implementation, ~GB/s per core) — batch transfer, never
    row-at-a-time. Everything downstream (fingerprint, dedup, tokens)
    stays JVM-side on the normalized column."""
    import unicodedata

    import pandas  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None
            else None
        )

    # Explicit (non-annotation) registration: `from __future__ import
    # annotations` stringifies hints, which pandas_udf can't resolve
    # against function-local imports.
    _nfc_batch.__annotations__ = {
        "s": pandas.Series,
        "return": pandas.Series,
    }
    _nfc = pandas_udf(_nfc_batch, "string")

    return df.withColumn(out_col, _nfc(F.col(col)))


# The marker-stopword set of the Gopher rules (Rae et al. 2021,
# "Scaling Language Models", Table A1 filter): a doc must contain at
# least 2 distinct entries to count as running English-like prose.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]


def gopher_quality_flags(
    df: DataFrame,
    col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The document-level Gopher quality rules (Rae et al. 2021) as
    pure column expressions — the published filter set behind
    MassiveText, and the baseline every LLM corpus pipeline starts
    from:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (# and …/...) below max_symbol_ratio
    - ≥ min_alpha_word_ratio of words contain an alphabetic char
    - ≥ min_stopword_hits distinct stopwords present

    Everything is one codegen pass over the text column: no UDF, no
    shuffle, filter-pushdown friendly — at 100 TB this runs at scan
    speed and is exactly mirrorable in ANSI SQL (the oracle).
    Emits per-rule booleans plus the conjunction ``gopher_keep`` so
    downstream can audit WHICH rule dropped a document.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(col))), "[ \\t\\n\\x0B\\f\\r]+"), lambda t: t != ""
    )
    wc = F.size(toks).cast("bigint")
    nz = F.when(wc > 0, wc.cast("double"))
    mean_wl = F.coalesce(
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t),
        ).cast("double")
        / nz,
        F.lit(0.0),
    )
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("double")
    alpha_ratio = F.coalesce(alpha_words / nz, F.lit(0.0))
    symbols = (
        F.length(F.regexp_replace(F.col(col), "[^#]", ""))
        + F.regexp_count(F.col(col), F.lit("\\.\\.\\.|…"))
    ).cast("double")
    symbol_ratio = F.coalesce(symbols / nz, F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("int")
    return (
        df.withColumn("word_count", wc)
        .withColumn("mean_word_len", F.round(mean_wl, 4))
        .withColumn("alpha_word_ratio", F.round(alpha_ratio, 4))
        .withColumn("symbol_ratio", F.round(symbol_ratio, 4))
        .withColumn("stopword_hits", stop_hits)
        .withColumn(
            "pass_word_count",
            (wc >= min_words) & (wc <= max_words),
        )
        .withColumn(
            "pass_mean_word_len",
            (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len),
        )
        .withColumn("pass_symbol_ratio", symbol_ratio < max_symbol_ratio)
        .withColumn(
            "pass_alpha_words", alpha_ratio >= min_alpha_word_ratio
        )
        .withColumn("pass_stopwords", stop_hits >= min_stopword_hits)
        .withColumn(
            "gopher_keep",
            F.col("pass_word_count")
            & F.col("pass_mean_word_len")
            & F.col("pass_symbol_ratio")
            & F.col("pass_alpha_words")
            & F.col("pass_stopwords"),
        )
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Shannon entropy of each document's character distribution
    (nats) — the classic cheap randomness/boilerplate signal:
    near-zero for repeated-character junk, abnormally high for
    base64/hex blobs; prose sits in a stable band.

    Shape: explode to (id, char), count per pair (map-side combined —
    the pre-shuffle stream collapses to ≤ |alphabet| rows per doc per
    partition), then one per-doc fold of -Σ p·ln p. Work is linear in
    corpus size; the shuffle carries only (id, char, count) triples,
    ≤ alphabet-size per doc — orders of magnitude smaller than the
    text. Returns (id_col, n_chars_e, char_entropy)."""
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(col), ""), lambda ch: ch != "")
        ).alias("ch"),
    )
    counts = chars.groupBy(id_col, "ch").agg(
        F.count(F.lit(1)).cast("double").alias("n_ch")
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("n_ch").cast("bigint").alias("n_chars_e"),
            (
                -F.sum(
                    F.col("n_ch") * F.log(F.col("n_ch"))
                )
            ).alias("_sum_nlogn"),
        )
        .select(
            id_col,
            "n_chars_e",
            # H = ln n - (Σ n_c ln n_c)/n  (algebraically identical to
            # -Σ p ln p; this form needs only one pass over counts).
            F.round(
                F.when(
                    F.col("n_chars_e") > 0,
                    F.log(F.col("n_chars_e").cast("double"))
                    + F.col("_sum_nlogn")
                    / F.col("n_chars_e").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("char_entropy"),
        )
    )


# ---------------------------------------------------------------------
# HTML stripping (C4/CCNet-style markup cleaning)
# ---------------------------------------------------------------------

# Order matters: script/style BLOCKS go first (their text content is
# code, not prose), then remaining tags, then entity unescapes. RE2-
# compatible (no lookarounds) so the SQL oracle mirrors each step.
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?is)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    # &amp; must decode LAST (standard unescape order): decoding it
    # first would double-decode double-escaped text — the author-
    # visible literal '&lt;b&gt;' arrives serialized as
    # '&amp;lt;b&amp;gt;' and must surface as '&lt;b&gt;', not '<b>'.
    (r"&amp;", "&"),
)

_TAG_PATTERN = r"(?s)<[^>]+>"


def with_html_stripped(
    df: DataFrame, col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Markup removal — the first cleaning pass of web-crawl curation
    (C4 ran exactly this shape over Common Crawl): drop script/style
    blocks wholesale, strip remaining tags, unescape the common
    entities, collapse whitespace. Pure chained ``regexp_replace`` —
    one codegen projection, no shuffle, linear in corpus size.
    Emits ``n_tags`` (tag count BEFORE stripping — the markup-density
    signal used to route documents to HTML vs plain-text pipelines).
    """
    cleaned = F.col(col)
    for pat, repl in HTML_STRIP_STEPS:
        cleaned = F.regexp_replace(cleaned, pat, repl)
    cleaned = F.trim(F.regexp_replace(cleaned, "[ \\t\\n\\x0B\\f\\r]+", " "))
    return df.withColumn(
        "n_tags", F.regexp_count(F.col(col), F.lit(_TAG_PATTERN)).cast("bigint")
    ).withColumn(out_col, cleaned)


def with_readability(df: DataFrame, col: str = "text") -> DataFrame:
    """Flesch reading-ease per document from regex-countable proxies:
    words = non-empty whitespace tokens, sentences = [.!?]+ runs
    (min 1), syllables ≈ vowel-group runs per word (min 1/word — the
    standard heuristic under ±10% of dictionary syllabification on
    English prose). 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words); NULL for empty documents. One codegen
    projection — readability is a scan-speed quality signal, like the
    Gopher rules."""
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(col), F.lit(""))), "[ \\t\\n\\x0B\\f\\r]+"),
        lambda t: t != "",
    )
    words = F.size(toks)
    sentences = F.greatest(
        F.regexp_count(F.col(col), F.lit(r"[.!?]+")), F.lit(1)
    )
    # Vowel-group count, floored at one syllable per word.
    syl = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.greatest(
            F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
        ).cast("long"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / words.cast("double"))
    )
    return df.select(
        *df.columns,
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syl.cast("bigint").alias("n_syllables"),
        F.when(words > 0, F.round(score, 6)).alias("flesch_score"),
    )


# Java \s and RE2 \s disagree on vertical tab (U+000B: Java includes
# it, RE2 does not) — spell the whitespace class out so both engines
# evaluate the identical character set.
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"

# Unicode-script character classes, written as explicit codepoint
# ranges so the SAME class text works in Java regex (Spark) and RE2
# (DuckDB) — \p{Script=...} names differ between engines.
SCRIPT_CLASSES: dict[str, str] = {
    "latin": "[A-Za-z\\u00c0-\\u024f]",
    "cyrillic": "[\\u0400-\\u04ff]",
    "han": "[\\u4e00-\\u9fff]",
    "arabic": "[\\u0600-\\u06ff]",
    "digit": "[0-9]",
}


def with_script_profile(df: DataFrame, col: str = "text") -> DataFrame:
    """Unicode-script character profile per document: for each script
    class the character count and its ratio of non-whitespace
    characters, plus the dominant script (fixed preference order on
    ties, 'other' when nothing matches) — the script-mix signal a
    multilingual curation pipeline cuts on before any model-based
    language ID (mixed-script spam, mojibake, wrong-script spillover
    inside a lang partition).

    Counts are length-minus-length-removed (RE2-compatible — no
    lookahead), one regexp pass per script class, all codegen: a
    scan-speed projection with no shuffle, like the Gopher rules.
    Ratios round to 6 dp for cross-engine hashing; empty/whitespace
    documents profile as NULL ratios and dominant 'other'."""
    c = F.coalesce(F.col(col), F.lit(""))
    nonspace = F.length(F.regexp_replace(c, WS_CLASS, ""))
    counts = {
        name: (
            F.length(c) - F.length(F.regexp_replace(c, cls, ""))
        ).cast("long")
        for name, cls in SCRIPT_CLASSES.items()
    }
    out_cols = list(df.columns) + [
        nonspace.cast("bigint").alias("n_chars_nonspace")
    ]
    for name in SCRIPT_CLASSES:
        out_cols.append(counts[name].alias(f"n_{name}"))
        out_cols.append(
            F.when(
                nonspace > 0,
                F.round(counts[name] / nonspace.cast("double"), 6),
            ).alias(f"ratio_{name}")
        )
    best = F.greatest(*counts.values())
    dominant = F.lit("other")
    # Reverse preference order so earlier scripts win ties — the same
    # first-wins CASE discipline as with_lang_id.
    for name in reversed(list(SCRIPT_CLASSES)):
        dominant = F.when(
            (best > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(dominant)
    out_cols.append(dominant.alias("dominant_script"))
    return df.select(*out_cols)
