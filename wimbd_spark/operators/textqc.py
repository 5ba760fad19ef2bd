"""Text analysis: language-ID heuristic, quality scoring, token
counting, document fingerprinting.

Beyond-reference versions of the reference's model-backed analyses
(wimbd/language/map_count.py pycld2, wimbd/profanity, …) re-expressed
as deterministic, dependency-free column expressions so they run
JVM-side at corpus scale and are oracle-checkable. The model-backed
variants (real langid/profanity classifiers) plug in as pandas_udfs —
see wimbd_spark.operators.models.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from wimbd_spark.functions.text import hash32, ngram_strings, tokenize

# Tiny per-language stopword profiles (public, common function words).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "y", "es", "un", "una", "en"],
    "fr": ["le", "la", "et", "les", "est", "un", "une", "dans"],
}

TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (fast path)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(tokenize(c)).cast("long")


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token count: word pieces + individual punctuation marks
    (a closer proxy for subword tokenizer counts than whitespace)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.coalesce(F.regexp_count(c, F.lit(TOKEN_REGEX)), F.lit(0)).cast(
        "long"
    )


def stopword_count(tokens: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(
        F.filter(tokens, lambda t: F.lower(t).isin(*[F.lit(w) for w in words]))
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Remove repeated lines WITHIN each document (C4-style boilerplate
    cleanup: nav bars, cookie banners, repeated headers), keeping the
    first occurrence in order. Lines whose trimmed length is below
    ``min_chars`` (default: whitespace-only) are always kept, so blank-
    line structure survives. The corpus-level cousin is
    dedup.dedup_paragraphs; this one is purely per-row — a map-side
    projection with ZERO shuffle, composable into any scan.

    Per-doc cost is O(lines²) via first-occurrence checks
    (array_position) — lines per document are small; everything stays
    in whole-stage codegen, no UDF.
    """
    import re as _re

    lines = F.split(F.col(text_col), _re.escape(sep))
    kept = F.filter(
        lines,
        lambda x, i: (F.length(F.trim(x)) < F.lit(min_chars))
        | (F.array_position(lines, x) == i + F.lit(1)),
    )
    return df.withColumn(
        text_col,
        F.when(
            F.col(text_col).isNotNull(), F.array_join(kept, sep)
        ),
    )


def quality_features(
    text: Column | str, tokens: Column | None = None
) -> list[Column]:
    """Deterministic per-doc quality signals (all pure expressions):

    - n_chars, n_tokens
    - mean_token_len
    - stopword_ratio (en profile)
    - punct_ratio — non-alnum-non-space chars / chars
    - digit_ratio
    - repetition_ratio — 1 - distinct_tokens/tokens (near-1 = spam)

    Pass a precomputed ``tokens`` column when scoring a corpus —
    Catalyst does not CSE tokenize() across these expressions.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens if tokens is not None else tokenize(c)
    n_chars = F.length(c).cast("long")
    n_tokens = F.size(toks).cast("long")
    nz = F.when(n_tokens > 0, n_tokens.cast("double"))
    nzc = F.when(n_chars > 0, n_chars.cast("double"))
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            )
            / nz
        ).alias("mean_token_len"),
        (stopword_count(toks, "en") / nz).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
            / nzc
        ).alias("punct_ratio"),
        (F.length(F.regexp_replace(c, r"[^0-9]", "")) / nzc).alias(
            "digit_ratio"
        ),
        (1.0 - F.size(F.array_distinct(toks)) / nz).alias("repetition_ratio"),
    ]


def quality_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality feature table (tokenizes once per row)."""
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    return base.select(
        F.col(id_col),
        *quality_features(F.col("_text"), tokens=F.col("_toks")),
    )


def langid_heuristic(
    text: Column | str, tokens: Column | None = None
) -> Column:
    """Stopword-profile language guess → lang code or 'un'.

    Mirrors the shape of wimbd/language/map_count.py:7-16 ('un' when
    no profile fires) with a deterministic tie-break (profile order).
    Pass precomputed ``tokens`` to avoid re-tokenizing per profile.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens if tokens is not None else tokenize(c)
    scores = {lang: stopword_count(toks, lang) for lang in STOPWORDS}
    best_score = F.greatest(*scores.values())
    # first language (fixed profile order) achieving the max = ties
    # break deterministically
    out = F.when(best_score <= 0, F.lit("un"))
    for lang in STOPWORDS:
        out = out.when(scores[lang] == best_score, F.lit(lang))
    return F.coalesce(out, F.lit("un"))


def doc_fingerprint(text: Column | str, shingle_n: int = 3) -> Column:
    """Order-independent 32-bit document fingerprint: XOR of hash32
    over distinct token shingles. Stable under shard order; portable
    to SQL (unnest + xor aggregate). NULL-safe (empty → 0)."""
    c = F.col(text) if isinstance(text, str) else text
    sh = F.array_distinct(ngram_strings(tokenize(c), shingle_n))
    return F.aggregate(
        F.transform(sh, lambda s: hash32(s)),
        F.lit(0).cast("long"),
        lambda acc, h: acc.bitwiseXOR(h),
    )


# Deterministic sentiment twin of operators.models.sentiment_polarity
# (P19's model slot). General-purpose defaults; pass a domain lexicon
# for specialized corpora.
DEFAULT_POS = [
    "good", "great", "excellent", "amazing", "wonderful", "best",
    "love", "happy", "positive", "success", "beautiful", "perfect",
    "nice", "win", "enjoy", "helpful", "friendly", "strong", "fast",
    "easy", "safe", "improved", "clean", "reliable",
]
DEFAULT_NEG = [
    "bad", "worst", "terrible", "awful", "hate", "poor", "negative",
    "fail", "failure", "ugly", "broken", "slow", "wrong", "unsafe",
    "sad", "angry", "problem", "crash", "error", "loss", "weak",
    "dirty", "hard", "unreliable",
]


def lexicon_polarity(
    text: Column | str,
    pos: list[str] | None = None,
    neg: list[str] | None = None,
) -> Column:
    """Lexicon sentiment in [-1, 1]: (pos hits − neg hits) / tokens,
    rounded to 6 decimals so decimal-sum aggregation is cross-engine
    exact (integer counts + one division + one round — every engine
    computing this on the same text produces the same double). Pure
    JVM expressions, no UDF; repeated words count each occurrence."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize(F.lower(c))
    p = [w.lower() for w in (pos if pos is not None else DEFAULT_POS)]
    n = [w.lower() for w in (neg if neg is not None else DEFAULT_NEG)]
    npos = F.size(F.filter(toks, lambda t: t.isin(*p)))
    nneg = F.size(F.filter(toks, lambda t: t.isin(*n)))
    return F.round(
        (npos - nneg) / F.greatest(F.size(toks), F.lit(1)), 6
    )


def dupe_ngram_char_fraction(
    tokens: Column, n: int = 2
) -> Column:
    """Fraction of n-gram characters covered by n-grams occurring ≥2
    times in the document (the Gopher/Dolma "duplicate n-gram"
    repetition signal, Rae et al. 2021 §A1.1): Σ count(g)·len(g) over
    duplicated g, divided by Σ len over all n-gram occurrences.

    Pure expression, no shuffle: sort the n-gram array, mark elements
    equal to a neighbor (every occurrence of any repeated n-gram),
    aggregate lengths. O(m log m) per doc via array_sort.

    PERF: this expression references the sorted gram array several
    times, and higher-order functions are interpreted — every
    reference re-evaluates its input tree. When computing more than
    one signal over the same (tokens, n), materialize
    ``sorted_ngrams(tokens, n)`` as a projection column first and call
    ``dupe_ngram_char_fraction_sorted`` on it (see
    repetition_signals); that turns each reference into an attribute
    read and is ~4× faster for the dupe2+top2+dupe3 trio.
    """
    return dupe_ngram_char_fraction_sorted(
        F.array_sort(ngram_strings(tokens, n))
    )


def sorted_ngrams(tokens: Column, n: int) -> Column:
    """Sorted n-gram strings of a token array — the shared input of the
    *_sorted repetition signals. Materialize it once per (doc, n)."""
    return F.array_sort(ngram_strings(tokens, n))


def dupe_ngram_char_fraction_sorted(grams: Column) -> Column:
    """dupe_ngram_char_fraction over an ALREADY-SORTED gram array
    (ideally a materialized projection column — see PERF note above).
    """
    # CAUTION: never index the gram array inside a transform lambda
    # (grams[i-1]-style) — each element access would inline and
    # re-evaluate the whole ngram+sort expression, turning the row
    # cost into O(m²·log m). The shifted-copy zip_with below keeps a
    # CONSTANT number of references to the array expression.
    null_s = F.array(F.lit(None).cast("string"))
    prev = F.slice(F.concat(null_s, grams), 1, F.size(grams))
    prev_eq = F.zip_with(grams, prev, lambda a, b: a.eqNullSafe(b))
    # slice(2..) is one shorter; zip_with null-pads the tail, and
    # eqNullSafe(last, null) is correctly false
    nxt = F.slice(grams, 2, F.size(grams))
    next_eq = F.zip_with(grams, nxt, lambda a, b: a.eqNullSafe(b))
    flags = F.zip_with(prev_eq, next_eq, lambda a, b: a | b)
    dup_chars = F.aggregate(
        F.zip_with(
            grams,
            flags,
            lambda g, f: F.when(f, F.length(g)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    tot_chars = F.aggregate(
        F.transform(grams, lambda g: F.length(g)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(tot_chars > 0, dup_chars / tot_chars).otherwise(F.lit(0.0))


def top_ngram_char_fraction(tokens: Column, n: int = 2) -> Column:
    """Max characters covered by any SINGLE n-gram's occurrences, as a
    fraction of total n-gram characters — the Gopher "top n-gram"
    repetition signal (Rae et al. 2021 §A1.1), with the dominant
    n-gram chosen by covered chars (count·len) rather than raw count:
    covered chars is the quantity the filter thresholds. Run-length
    scan over the sorted n-gram array with a struct accumulator — one
    pass, no shuffle. Same PERF note as dupe_ngram_char_fraction:
    prefer the _sorted form over a materialized sorted_ngrams column
    when computing several signals.
    """
    return top_ngram_char_fraction_sorted(
        F.array_sort(ngram_strings(tokens, n))
    )


def top_ngram_char_fraction_sorted(grams: Column) -> Column:
    """top_ngram_char_fraction over an ALREADY-SORTED gram array."""
    state = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )
    scan = F.aggregate(
        grams,
        state,
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                (
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1)
                    )
                )
                * F.length(g),
            ).alias("best"),
        ),
    )
    tot_chars = F.aggregate(
        F.transform(grams, lambda g: F.length(g)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(tot_chars > 0, scan["best"] / tot_chars).otherwise(
        F.lit(0.0)
    )


def repetition_signals(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 3,
    round_to: int | None = 6,
) -> "DataFrame":
    """(id, dupe2, top2, dupe3) per document — the Gopher repetition
    trio (Rae et al. 2021 §A1.1) in ONE map-only pass, no shuffle.

    Staged projections materialize the token array and each sorted
    gram array exactly once; the signal expressions then reference
    cheap attributes instead of re-evaluating the tokenize→ngram→sort
    tree per use (higher-order functions are interpreted, so every
    reference re-runs its input — the naive form cost ~4× this plan
    on the sf0.1 bench). Catalyst keeps the stages separate because
    each alias is consumed more than once (CollapseProject's
    multi-use guard).
    """
    out = (
        df.select(
            F.col(id_col), tokenize(F.col(text_col)).alias("_t")
        )
        .filter(F.size("_t") >= min_tokens)
        .select(
            id_col,
            sorted_ngrams(F.col("_t"), 2).alias("_g2"),
            sorted_ngrams(F.col("_t"), 3).alias("_g3"),
        )
        .select(
            id_col,
            dupe_ngram_char_fraction_sorted(F.col("_g2")).alias("dupe2"),
            top_ngram_char_fraction_sorted(F.col("_g2")).alias("top2"),
            dupe_ngram_char_fraction_sorted(F.col("_g3")).alias("dupe3"),
        )
    )
    if round_to is not None:
        out = out.select(
            id_col,
            *[F.round(c, round_to).alias(c) for c in ("dupe2", "top2", "dupe3")],
        )
    return out


def gopher_rules(
    text: Column | str,
    tokens: Column | None = None,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.10,
    max_bullet_ratio: float = 0.90,
    max_ellipsis_ratio: float = 0.30,
    min_alpha_word_ratio: float = 0.80,
    min_stopwords: int = 2,
    max_dupe2: float = 0.20,
    max_top2: float = 0.20,
    grams2: Column | None = None,
) -> list[tuple[str, Column]]:
    """The Gopher document-quality rules (Rae et al. 2021 §A1.1) as
    named boolean DROP conditions — all pure expressions, thresholds
    parameterized (defaults are the published values where stated).
    Returns [(rule_name, drops_document_bool), ...].

    Pass ``tokens`` and ``grams2`` (materialized projection columns of
    the token array and sorted 2-gram array) when evaluating over a
    DataFrame — interpreted HOF references re-evaluate their input
    trees, so the repetition rules cost ~4× more on inline
    expressions. gopher_quality_filter stages this automatically.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens if tokens is not None else tokenize(c)
    n_tok = F.size(toks)
    nz = F.greatest(n_tok, F.lit(1)).cast("double")
    mean_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
        / nz
    )
    symbol_ratio = (
        F.regexp_count(c, F.lit("#"))
        + F.regexp_count(c, F.lit("…"))
        + F.regexp_count(c, F.lit(r"\.\.\."))
    ) / nz
    lines = F.split(c, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*([-*•]|\d+[.)])")))
        / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        / n_lines
    )
    alpha_word_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]"))) / nz
    )
    return [
        ("too_short", n_tok < min_tokens),
        ("too_long", n_tok > max_tokens),
        ("mean_word_len", ~mean_len.between(min_mean_len, max_mean_len)),
        ("symbol_ratio", symbol_ratio > max_symbol_ratio),
        ("bullet_lines", bullet_ratio > max_bullet_ratio),
        ("ellipsis_lines", ellipsis_ratio > max_ellipsis_ratio),
        ("alpha_words", alpha_word_ratio < min_alpha_word_ratio),
        ("few_stopwords", stopword_count(toks, "en") < min_stopwords),
        (
            "dupe_2gram",
            (
                dupe_ngram_char_fraction_sorted(grams2)
                if grams2 is not None
                else dupe_ngram_char_fraction(toks, 2)
            )
            > max_dupe2,
        ),
        (
            "top_2gram",
            (
                top_ngram_char_fraction_sorted(grams2)
                if grams2 is not None
                else top_ngram_char_fraction(toks, 2)
            )
            > max_top2,
        ),
    ]


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    keep_reasons: bool = True,
    **thresholds,
) -> DataFrame:
    """Apply the Gopher rules: adds `keep` (no rule fired) and, when
    ``keep_reasons``, a `drop_reasons` array naming the rules that
    fired — shuffle-free projections over the corpus, so the gate
    composes with dedup/decontamination in a single pass. The token
    array and sorted 2-gram array are materialized once in staged
    projections and shared by all rules (see gopher_rules PERF note).
    """
    staged = df.withColumn(
        "_gq_toks", tokenize(F.col(text_col))
    ).withColumn("_gq_g2", sorted_ngrams(F.col("_gq_toks"), 2))
    rules = gopher_rules(
        F.col(text_col),
        tokens=F.col("_gq_toks"),
        grams2=F.col("_gq_g2"),
        **thresholds,
    )
    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules
            ]
        ),
        lambda x: x.isNotNull(),
    )
    out = (
        staged.withColumn("drop_reasons", reasons)
        .withColumn("keep", F.size("drop_reasons") == 0)
        .drop("_gq_toks", "_gq_g2")
    )
    return out if keep_reasons else out.drop("drop_reasons")


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """Top-``k`` distinctive terms per document by smooth TF-IDF →
    (id_col, term, tf, tfidf, rank) — per-doc keyword extraction, the
    classic IR view of "what is this document about" over a corpus.

    idf uses the sklearn-style smooth form ln((1+N)/(1+df)) + 1 (N =
    docs with ≥1 token, df = docs containing the term), so no term
    ever zeroes out and the formula is exactly reproducible in SQL.
    Ties rank deterministically (tfidf desc, term asc).

    100 TB plan shape: one explode + groupBy(id, term) builds the tf
    table (the only corpus-token-sized shuffle); document frequency
    rides a window over THAT table partitioned by term — no self-join
    and, since r6, NO persist (the r5 cache leaked MEMORY_AND_DISK
    blocks across repeated calls in a long-lived application, ADVICE
    r5); N is a broadcast single-row aggregate from a second
    column-pruned corpus scan (a map-side scan is cheaper and safer
    than caching a corpus-sized tf table to avoid it); the final
    top-k window shuffles (id, term, score) rows only — never full
    documents.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    tok = tokenizer if tokenizer is not None else tokenize
    tf = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(tok(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # N = docs with >= 1 token: map-side scan + scalar agg, broadcast
    ndocs = F.broadcast(
        df.filter(F.col(text_col).isNotNull()).agg(
            F.count(
                F.when(F.size(tok(F.col(text_col))) > 0, 1)
            ).alias("_N")
        )
    )
    wterm = Window.partitionBy("term")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        tf.withColumn("_df", F.count(F.lit(1)).over(wterm))
        .join(ndocs)  # 1-row broadcast: a constant column, no shuffle
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log((F.lit(1) + F.col("_N")) / (F.lit(1) + F.col("_df")))
                + F.lit(1.0)
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def gram_novelty(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """CROSS-document novelty profile per doc → (id_col, total_grams,
    shared_grams, novelty): of a doc's distinct token ``n``-grams, how
    many also occur in at least one OTHER document, and novelty =
    1 − shared/total. The per-doc scalar view of the duplication
    analyses in Lee et al. 2022 (ExactSubstr) — low novelty marks
    near-boilerplate/memorization-risk documents; the span-level
    twin is `dedup.repeated_spans`. Distinct from
    dupe_ngram_char_fraction, which measures WITHIN-doc repetition.

    Plan shape: map-side distinct (id, md5(gram)) pairs (no token
    arrays shuffle), ONE groupBy(hash) document-frequency count with
    map-side combine, the hash-partitioned join back reuses that
    exchange, one groupBy(id) rollup. Docs with fewer than ``n``
    tokens (or NULL text) have no grams: total_grams 0, novelty NULL
    — kept, gating is the caller's policy.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    tok = tokenizer if tokenizer is not None else tokenize
    toks = tok(F.col(text_col))
    from pyspark import StorageLevel

    from wimbd_spark.session import scoped_persist

    # the gram table feeds BOTH the document-frequency count and the
    # join-back side; unpersisted, the corpus is scanned, tokenized,
    # exploded and md5-hashed twice (the before-plan's duplicated
    # Generate subtrees). Disk-backed: the table is gram-stream-sized.
    grams = scoped_persist(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(ngram_strings(toks, n))
            ).alias("_g"),
        )
        .select(F.col(id_col), F.md5("_g").alias("_h")),
        StorageLevel.MEMORY_AND_DISK,
    )
    dfreq = grams.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        grams.join(dfreq, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.count(F.when(F.col("_df") >= 2, 1)).alias("shared_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("total_grams"), F.lit(0)).alias("total_grams"),
            F.coalesce(F.col("shared_grams"), F.lit(0)).alias(
                "shared_grams"
            ),
            F.when(
                F.col("total_grams") > 0,
                F.lit(1.0) - F.col("shared_grams") / F.col("total_grams"),
            ).alias("novelty"),
        )
    )


#: Script classes for script_profile: name → regex character class.
#: Covers the major writing systems a web-crawl curation pass routes
#: on; chars matching none fall into the residual "other" bucket.
SCRIPT_CLASSES: dict[str, str] = {
    "latin": r"[A-Za-zÀ-ɏ]",
    "digit": r"[0-9]",
    "cyrillic": r"[Ѐ-ӿ]",
    "greek": r"[Ͱ-Ͽ]",
    "arabic": r"[؀-ۿ]",
    "hebrew": r"[֐-׿]",
    "devanagari": r"[ऀ-ॿ]",
    "cjk": r"[぀-ヿ㐀-䶿一-鿿가-힯]",
}


def script_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc writing-system profile → (id_col, n_chars, one
    ``<script>_frac`` column per SCRIPT_CLASSES entry, other_frac,
    main_script): fractions of NON-WHITESPACE characters in each
    script block, plus the dominant script ('none' for empty docs).
    The char-level complement of the token-level langid heuristic —
    routes multilingual crawls (e.g. keep-if-latin≥0.5, split CJK to
    its own pipeline) before any tokenizer choice is made.

    Pure per-row regexp_count projections — map-side, ZERO shuffle,
    whole-stage codegen'd; NULL text profiles as empty. Ties on the
    dominant script break by SCRIPT_CLASSES declaration order
    (deterministic). Whitespace stripping is Unicode-aware
    ([\\s\\p{Z}]): NBSP (U+00A0) and ideographic space (U+3000 —
    ubiquitous in CJK text) are whitespace here, not "other" chars,
    so they can't skew other_frac/main_script for exactly the
    multilingual docs this operator routes.
    """
    # class spelled out char-by-char, NOT \s: Java \s includes
    # vertical tab (U+000B) while RE2's (the DuckDB oracle engine)
    # does not — an abstract \s on both sides silently diverges on
    # VT-bearing docs
    c = F.col(text_col)
    nonspace = F.coalesce(
        F.length(F.regexp_replace(c, r"[\t\n\x0B\f\r \p{Z}]", "")),
        F.lit(0),
    ).cast("long")
    nz = F.when(nonspace > 0, nonspace.cast("double"))
    counts = {
        name: F.coalesce(F.regexp_count(c, F.lit(rx)), F.lit(0))
        for name, rx in SCRIPT_CLASSES.items()
    }
    other = nonspace - sum(counts.values(), F.lit(0))
    best = F.greatest(*counts.values(), other)
    main = F.when(nonspace == 0, F.lit("none"))
    for name in SCRIPT_CLASSES:
        main = main.when(counts[name] == best, F.lit(name))
    main = F.coalesce(main, F.lit("other"))
    return df.select(
        F.col(id_col),
        nonspace.alias("n_chars"),
        *[
            (counts[name] / nz).alias(f"{name}_frac")
            for name in SCRIPT_CLASSES
        ],
        (other / nz).alias("other_frac"),
        main.alias("main_script"),
    )


def compression_ratio(text: Column | str, level: int = 6) -> Column:
    """zlib-compressed size / raw UTF-8 size per document — the
    incompressibility quality signal (RefinedWeb/Gopher-family
    pipelines drop the extremes: very LOW ratios are boilerplate/
    repetition, very HIGH ratios are noise or binary junk). NULL text
    → NULL; empty text → NULL (no ratio to speak of).

    Needs Python (no JVM zlib expression), so: Arrow-batched iterator
    pandas_udf, one pass, the model-UDF cost class — a gate/audit
    column, not a hot-path primitive. zlib is deterministic for a
    fixed (level, strategy), so the column is stable across runs and
    partitionings; it is NOT oracle-comparable (DuckDB has no zlib),
    which keeps it out of the driver registry by design — unit tests
    pin known-compressible vs incompressible inputs instead.
    """
    c = F.col(text) if isinstance(text, str) else text

    @pandas_udf("double")
    def _ratio(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import zlib

        def one(t):
            if not t:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, level)) / len(raw)

        for s in it:
            yield s.map(one)

    return _ratio(c)


def compression_filter(
    df: DataFrame,
    min_ratio: float = 0.25,
    max_ratio: float = 1.05,
    text_col: str = "text",
) -> DataFrame:
    """Keep documents whose compression ratio lies inside
    [min_ratio, max_ratio] — drops heavy-repetition boilerplate (low)
    and incompressible noise (high). NULL/empty text is dropped (no
    signal). Composable with the other gates (gopher_quality_filter,
    perplexity filter) as one more map-side predicate."""
    r = compression_ratio(F.col(text_col))
    return df.filter(
        r.isNotNull() & (r >= min_ratio) & (r <= max_ratio)
    )


# ------------------------------------------------------- C4 heuristics

#: Small public-blocklist subset (the full pipeline uses the LDNOOBW
#: "bad words" list; ship a deterministic built-in head so the rule is
#: testable offline — pass ``bad_words=`` to supply the full list).
C4_BAD_WORDS = ["fuck", "shit", "bitch", "asshole", "porn"]

#: Boilerplate-policy phrases (checked case-insensitively per line).
C4_POLICY_PHRASES = [
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
]

#: A retained line ends in terminal punctuation (optionally followed
#: by a closing quote) — evaluated on the trimmed line.
_C4_TERMINAL_RE = '[.!?]["”]?$'


def _c4_line_kept(line: Column, policy_phrases: list[str]) -> Column:
    """C4's line-retention predicate (Raffel et al. 2020 §2.2): the
    trimmed line ends in terminal punctuation, has >= 5 whitespace
    words, and mentions neither javascript nor a policy phrase. Pure
    expression — usable inside F.filter over split lines."""
    t = F.trim(line)
    lowered = F.lower(t)
    words = F.size(F.array_remove(F.split(t, r"\s+"), ""))
    cond = (
        (F.length(t) > 0)
        & t.rlike(_C4_TERMINAL_RE)
        & (words >= 5)
        & ~lowered.contains("javascript")
    )
    for p in policy_phrases:
        cond = cond & ~lowered.contains(p)
    return cond


def c4_rules(
    text: Column | str,
    min_kept_lines: int = 3,
    bad_words: list[str] | None = None,
    policy_phrases: list[str] | None = None,
) -> list[tuple[str, Column]]:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the
    "Colossal Clean Crawled Corpus" rules) as named boolean DROP
    conditions, like gopher_rules: lorem-ipsum pages, pages with a
    curly brace (code), pages with a blocklisted word, and pages with
    fewer than ``min_kept_lines`` retained lines (a line is retained
    per _c4_line_kept: terminal punctuation, >= 5 words, no
    javascript/policy boilerplate). All pure column expressions —
    shuffle-free, whole-stage-codegen corpus-wide.

    Beyond-reference (the wimbd reference stops at counting; this is
    the standard pretraining-corpus page filter the brief's
    text-analysis tier calls for)."""
    c = F.col(text) if isinstance(text, str) else text
    lowered = F.lower(c)
    bw = bad_words if bad_words is not None else C4_BAD_WORDS
    pp = (
        policy_phrases
        if policy_phrases is not None
        else C4_POLICY_PHRASES
    )
    import re as _re

    # drop empty strings BEFORE building the regex — an empty
    # alternative ('\b(|spam)\b', or \b()\b from bad_words=[]) matches
    # at every word boundary, flagging the entire corpus
    bw = [w for w in bw if w]
    if bw:
        bad_re = r"\b(" + "|".join(_re.escape(w) for w in bw) + r")\b"
        bad_cond = lowered.rlike(bad_re)
    else:
        bad_cond = F.lit(False)
    lines = F.split(c, r"\n")
    n_kept = F.size(F.filter(lines, lambda l: _c4_line_kept(l, pp)))
    return [
        ("lorem_ipsum", lowered.contains("lorem ipsum")),
        ("curly_brace", c.contains("{")),
        ("bad_word", bad_cond),
        ("few_kept_lines", n_kept < min_kept_lines),
    ]


def c4_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    keep_reasons: bool = True,
    **thresholds,
) -> DataFrame:
    """Apply the C4 rules: adds `keep` (no rule fired) and, when
    ``keep_reasons``, a `drop_reasons` array naming the rules that
    fired. Same contract as gopher_quality_filter, so the two gates
    compose in one projection pass."""
    rules = c4_rules(F.col(text_col), **thresholds)
    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules
            ]
        ),
        lambda x: x.isNotNull(),
    )
    out = df.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )
    return out if keep_reasons else out.drop("drop_reasons")


#: C4 sentence boundary: split AFTER terminal punctuation, before
#: whitespace — punctuation stays with its sentence.
C4_SENT_SPLIT_RE = r"(?<=[.!?])\s+"


def c4_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_sents: int = 3,
) -> DataFrame:
    """C4's three-sentence span deduplication (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span
    occurring more than once in the data set") — the remaining piece
    of the C4 pipeline next to c4_quality_filter.

    Semantics, exactly: sentences split on C4_SENT_SPLIT_RE; every
    sliding window of ``span_sents`` consecutive sentences is hashed;
    for each distinct span the occurrence with the smallest
    (``id_col``, start index) SURVIVES and every sentence belonging
    to any other occurrence is removed; text is rebuilt from the
    surviving sentences joined with single spaces (the engine's
    canonical whitespace form). Docs with fewer than ``span_sents``
    sentences pass through unchanged. Two documented deviations from
    C4's sequential scan: first-ness is the deterministic global
    (id, start) minimum rather than ingest order, and a duplicate
    occurrence overlapping the surviving occurrence inside the SAME
    document still removes its sentences (the global rule is applied
    uniformly, not sequentially).

    Plan shape at scale: one explode of span windows (map-side), one
    min-struct GROUPBY on the span hash to elect survivors — partial
    aggregation collapses million-occurrence boilerplate spans map-side
    before the shuffle (a Window over the hash would single-task them)
    — one hash join to mark losers (skewed probe keys split by AQE),
    one per-doc aggregation of removal indices, one id join back.
    """
    sents = F.split(F.col(text_col), C4_SENT_SPLIT_RE)
    staged = df.withColumn("_sents", sents)
    spans = staged.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            # sequence(0, n) DESCENDS when n < 0, so short docs must
            # yield NULL (posexplode drops the row), not sequence(0,-1)
            F.when(
                F.size("_sents") >= span_sents,
                F.transform(
                    F.sequence(
                        F.lit(0), F.size("_sents") - span_sents
                    ),
                    lambda i: F.md5(
                        F.concat_ws(
                            "\x00",
                            F.slice(F.col("_sents"), i + 1, span_sents),
                        )
                    ),
                ),
            )
        ).alias("_start", "_h"),
    )
    winners = spans.groupBy("_h").agg(
        F.min(F.struct(F.col("_id"), F.col("_start"))).alias("_first")
    )
    losers = (
        spans.join(winners, "_h")
        .filter(
            (F.col("_id") != F.col("_first._id"))
            | (F.col("_start") != F.col("_first._start"))
        )
        .select(
            "_id",
            F.explode(
                F.sequence(
                    F.col("_start"), F.col("_start") + span_sents - 1
                )
            ).alias("_kill"),
        )
        .groupBy("_id")
        .agg(F.collect_set("_kill").alias("_kills"))
    )
    out = (
        staged.join(
            losers, staged[id_col] == losers["_id"], "left"
        )
        .drop("_id")
        .withColumn(
            text_col,
            F.when(F.col("_kills").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(
                    " ",
                    F.filter(
                        F.col("_sents"),
                        lambda s, i: ~F.array_contains(
                            F.col("_kills"), i
                        ),
                    ),
                )
            ),
        )
        .drop("_sents", "_kills")
    )
    return out
