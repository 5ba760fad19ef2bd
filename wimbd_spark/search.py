"""ES-parity interactive search surface.

Reimplements the reference's Elasticsearch wrapper API
(wimbd/es/__init__.py) as DataFrame predicates — same signatures and
semantics, no cluster:

- build_phrase_predicate        ≙ _query_documents_contain_phrases (:89-128)
- count_documents_containing_phrases        (:131-184)
- get_documents_containing_phrases          (:187-266)
- count_documents_for_each_phrase           (:269-345)
- count_total_occurrences_of_unigrams       (:348-426)

Semantics notes:
- ES `match_phrase` is TOKEN-aligned. The default matcher here is
  token-aligned too (phrase tokens must appear as a contiguous token
  window); ``slop`` allows the phrase tokens to appear in order within
  a window of len(phrase)+slop tokens, matching the documented intent
  ("I like" slop=1 matches "I really like",
  wimbd/es/__init__.py:150-153).
- all_phrases=True ≙ ES bool.filter (AND); False ≙ bool.should with
  minimum_should_match=1 (OR).
- is_regexp=True uses case-insensitive regex on the raw text, like the
  ES `regexp` fallback (:109-118).
- The c4 implicit `subset=="en"` filter (:170-181) generalizes to
  ``filters={col: value}``.

Scale: phrase lists are tiny → every phrase predicate is a pure Column
expression evaluated in one corpus scan; no join, no shuffle for
counts (aggregate only). Per-phrase counts build one boolean aggregate
per phrase over a single scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wimbd_spark.functions.text import term_count, tokenize
from wimbd_spark.session import local_frame


def analyze_phrase(phrase: str) -> list[str]:
    """Tokenize a QUERY phrase exactly like the engine's default
    document tokenizer (``tokenize``: split on whitespace runs, drop
    empties) — the analyzer-parity rule ES applies to match_phrase
    (query analyzed with the index's analyzer). ``str.split()`` IS that
    tokenizer for driver-side strings; both the scan path and the
    posting-list index route through this one function so query and
    document tokenization cannot drift.

    Documented contract (diverges from the reference's ES analyzer):
    documents and phrases are BOTH whitespace-tokenized, so punctuation
    stays attached — "hello, world" matches the text "hello, world"
    but not "hello world". ES's standard analyzer strips punctuation
    from both sides; pre-normalize phrases (and the corpus) if you
    need that behavior.
    """
    return phrase.split()


def _phrase_window_match(tokens: Column, phrase: str, slop: int = 0) -> Column:
    """True iff phrase tokens appear in order within some window of
    len(phrase)+slop consecutive tokens (ES match_phrase+slop intent).

    Pure SQL: for each window start, scan the window with `aggregate`,
    advancing a matched-prefix counter — no UDF, codegen-friendly.
    """
    ptoks = analyze_phrase(phrase)
    L = len(ptoks)
    W = L + slop
    if L == 0:
        return F.lit(False)
    phrase_arr = F.array(*[F.lit(t) for t in ptoks])

    # Subsequence check on slice(t, i, W): acc counts phrase tokens
    # matched in order so far; window matches iff acc == L. slice()
    # past the array end just yields a shorter window, so one exists()
    # over all candidate starts covers the tail. The token array is
    # let-bound so each candidate start slices a bound value instead of
    # re-evaluating the tokens expression (the O(n²) hazard on
    # functions.text.let — `tokens` is often tokenize(text)).
    from wimbd_spark.functions.text import let

    def check(t):
        def window_ok(i):
            return (
                F.aggregate(
                    F.slice(t, i, W),
                    F.lit(0),
                    lambda acc, x: F.when(
                        (acc < L) & (x == F.element_at(phrase_arr, acc + 1)),
                        acc + 1,
                    ).otherwise(acc),
                )
                == L
            )

        nstart = F.size(t) - F.lit(L - 1)
        return F.coalesce(
            F.when(
                nstart >= 1, F.exists(F.sequence(F.lit(1), nstart), window_ok)
            ),
            F.lit(False),
        )

    return let(tokens, check)


def build_phrase_predicate(
    phrases: list[str],
    text_col: str = "text",
    all_phrases: bool = False,
    slop: int = 0,
    is_regexp: bool = False,
    token_aligned: bool = True,
    tokens: Column | None = None,
) -> Column:
    """Compile a phrase list into one boolean Column.

    token_aligned=False degrades to raw substring `contains` — cheaper,
    and what several reference Python analyses actually do.

    Pass ``tokens`` (a precomputed token-array Column) when evaluating
    many phrases over one scan — Catalyst does not CSE tokenize()
    across lambda-bearing expressions.

    Perf: the token-window scan is guarded by a cheap substring
    `contains` on the phrase's longest token — a necessary condition
    (token equality ⇒ substring presence) that short-circuits the
    O(len·window) scan for most non-matching docs.
    """
    if not phrases:
        raise ValueError("phrases must be non-empty")
    text = F.col(text_col)
    if is_regexp:
        preds = [text.rlike("(?i)" + p) for p in phrases]
    elif token_aligned:
        toks = tokens if tokens is not None else tokenize(text)
        preds = []
        for p in phrases:
            longest = max(analyze_phrase(p), key=len, default="")
            preds.append(
                F.coalesce(text.contains(longest), F.lit(False))
                & _phrase_window_match(toks, p, slop)
            )
    else:
        preds = [text.contains(p) for p in phrases]
    out = preds[0]
    for p in preds[1:]:
        out = (out & p) if all_phrases else (out | p)
    return F.coalesce(out, F.lit(False))



def apply_filters(df: DataFrame, filters: dict[str, str] | None) -> DataFrame:
    """Equality attribute filters (the generalized c4 ``subset=="en"``
    implicit filter) — the ONE place filter semantics live; scan and
    index paths both route through it so they cannot drift."""
    for col, val in (filters or {}).items():
        df = df.filter(F.col(col) == val)
    return df

def count_documents_containing_phrases(
    df: DataFrame,
    phrases: list[str],
    all_phrases: bool = False,
    slop: int = 0,
    is_regexp: bool = False,
    filters: dict[str, str] | None = None,
    text_col: str = "text",
    token_aligned: bool = True,
) -> int:
    """Count docs matching the phrase query (ES es.count parity)."""
    pred = build_phrase_predicate(
        phrases, text_col, all_phrases, slop, is_regexp, token_aligned
    )
    return apply_filters(df, filters).filter(pred).count()


def get_documents_containing_phrases(
    df: DataFrame,
    phrases: list[str],
    num_documents: int | None = 10,
    all_phrases: bool = False,
    slop: int = 0,
    is_regexp: bool = False,
    filters: dict[str, str] | None = None,
    sort_field: str | None = None,
    text_col: str = "text",
    token_aligned: bool = True,
    method: str = "auto",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieve matching docs; num_documents=None returns all hits
    (≙ the PIT + search_after pagination loop, which Spark replaces
    with plain partition streaming via toLocalIterator).

    ``method``: ``"pred"`` = the compiled OR/AND predicate (plan size
    grows with the phrase count); ``"ac"`` = the Aho-Corasick pass
    (operators.multipattern.matching_doc_ids_ac + LEFT SEMI join —
    per-doc cost independent of the phrase count; needs ``id_col``);
    ``"auto"`` routes plain token-aligned slop=0 batches of ≥ 32
    phrases to the automaton when ``id_col`` exists, like the
    counting batch. Anything else (slop>0, regexp, AND-groups over
    non-strings) raises under ``"ac"`` and routes to the predicate
    under ``"auto"`` — the fast path never silently changes
    semantics.

    The ``"ac"`` path assumes ``id_col`` uniquely identifies rows:
    match resolution is a LEFT SEMI join on ``id_col``, so a
    non-matching row sharing an id with a matching row would also be
    returned (the predicate path has no such divergence). Pass a
    row-unique id or use ``method="pred"`` when ids can repeat."""
    if method not in ("auto", "ac", "pred"):
        raise ValueError(
            f"unknown method {method!r}: expected 'auto', 'ac' or "
            "'pred'"
        )
    ac_eligible = (
        token_aligned
        and slop == 0
        and not is_regexp
        and bool(phrases)
        and all(isinstance(p, str) for p in phrases)
        and id_col in df.columns
    )
    if method == "ac" or (
        method == "auto"
        and ac_eligible
        and len(phrases) >= _AC_MIN_PHRASES
    ):
        if not ac_eligible:
            raise ValueError(
                "method='ac' needs plain string phrases, "
                "token_aligned=True, slop=0, is_regexp=False, and an "
                f"existing id column ({id_col!r})"
            )
        from wimbd_spark.operators.multipattern import (
            matching_doc_ids_ac,
        )

        base = apply_filters(df, filters)
        ids = matching_doc_ids_ac(
            base, phrases, id_col=id_col, text_col=text_col,
            all_phrases=all_phrases,
        )
        out = base.join(ids, id_col, "left_semi")
    else:
        pred = build_phrase_predicate(
            phrases, text_col, all_phrases, slop, is_regexp,
            token_aligned,
        )
        out = apply_filters(df, filters).filter(pred)
    if sort_field:
        out = out.orderBy(F.col(sort_field).asc())
    if num_documents is not None:
        out = out.limit(num_documents)
    return out


_AC_MIN_PHRASES = 32  # measured crossover is ~tens of phrases (SCALE.md)


def count_documents_for_each_phrase(
    df: DataFrame,
    phrases: list[str] | list[list[str]],
    slop: int = 0,
    filters: dict[str, str] | None = None,
    text_col: str = "text",
    token_aligned: bool = True,
    method: str = "auto",
) -> DataFrame:
    """Per-phrase (or per AND-group) doc counts → (phrase, count).

    The reference batches 500 ES msearch count queries per round trip
    (:308-344); here every phrase is one conditional-count aggregate
    over a SINGLE corpus scan — no batching protocol at any corpus
    size, and no shuffle (final agg of partial counts only).

    ``method``: ``"agg"`` = the per-phrase conditional aggregates
    (per-doc cost and plan size grow with the phrase count);
    ``"ac"`` = the Aho-Corasick automaton pass
    (operators.multipattern — per-doc cost independent of the phrase
    count; row-identical, pinned); ``"auto"`` (default) routes plain
    token-aligned slop=0 string batches of ≥ 32 phrases to the
    automaton (measured at sf0.1: agg 16 s / 142 s at P=100 / 1000 vs
    a FLAT ~1.5 s for the automaton — SCALE.md) and everything else
    (AND-groups, slop, regexp-ish, substring mode) to the aggregates.
    ``method="ac"`` with an ineligible query (slop>0, AND-groups)
    raises rather than silently degrading.
    """
    if method not in ("auto", "ac", "agg"):
        raise ValueError(
            f"unknown method {method!r}: expected 'auto', 'ac' or "
            "'agg'"
        )
    ac_eligible = (
        token_aligned
        and slop == 0
        and bool(phrases)
        and all(isinstance(p, str) for p in phrases)
    )
    if method == "ac" or (
        method == "auto"
        and ac_eligible
        and len(phrases) >= _AC_MIN_PHRASES
    ):
        if not ac_eligible:
            raise ValueError(
                "method='ac' needs plain string phrases, "
                "token_aligned=True, slop=0"
            )
        from wimbd_spark.operators.multipattern import (
            count_documents_for_each_phrase_ac,
        )

        return count_documents_for_each_phrase_ac(
            apply_filters(df, filters), phrases, text_col=text_col
        )
    out = apply_filters(df, filters)
    # Tokenize once for all phrases (projected column, not re-derived
    # inside each predicate).
    out = out.select(
        F.col(text_col), tokenize(F.col(text_col)).alias("_toks")
    )
    aggs, names = [], []
    for i, p in enumerate(phrases):
        group = p if isinstance(p, list) else [p]
        pred = build_phrase_predicate(
            group,
            text_col,
            True,
            slop,
            False,
            token_aligned,
            tokens=F.col("_toks"),
        )
        names.append(" AND ".join(group))
        aggs.append(F.count_if(pred).alias(f"_c{i}"))
    row = out.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(n).alias("phrase"), F.col(f"_c{i}").alias("count"))
            for i, n in enumerate(names)
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select("p.phrase", "p.count")
        .orderBy("phrase")
    )


def count_total_occurrences_of_unigrams(
    df: DataFrame,
    unigrams: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Total term frequency per unigram → (unigram, count).

    Exact, replacing the reference's per-shard term-vector ttf
    summation (:348-426). Includes zero rows for unigrams absent from
    the corpus (ES reports 0 too).

    Physical strategy by term-list size:
    - small (≤100): one conditional-count aggregate per term over a
      single scan — zero shuffles, zero joins.
    - large: explode tokens → semi-filter → groupBy → broadcast-join
      back to the term list (one shuffle, scales to any #terms).
    """
    if not unigrams:
        raise ValueError("unigrams must be non-empty")
    spark = df.sparkSession
    if len(unigrams) <= 100:
        toksed = df.select(tokenize(F.col(text_col)).alias("_t"))
        # outer coalesce: SUM over an empty corpus is NULL per SQL,
        # but a term frequency is 0 (ES reports 0 for absent terms)
        aggs = [
            F.coalesce(
                F.sum(
                    F.coalesce(term_count(F.col("_t"), u), F.lit(0))
                ),
                F.lit(0).cast("long"),
            ).alias(f"_c{i}")
            for i, u in enumerate(unigrams)
        ]
        row = toksed.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(u).alias("unigram"), F.col(f"_c{i}").alias("count")
                )
                for i, u in enumerate(unigrams)
            ]
        )
        return (
            row.select(F.explode(pairs).alias("p"))
            .select("p.unigram", "p.count")
            .orderBy("unigram")
        )
    toks = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("unigram"))
        .filter(F.col("unigram").isin(unigrams))
        .groupBy("unigram")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    wanted = local_frame(spark, [(u,) for u in unigrams], "unigram string")
    return (
        wanted.join(toks, "unigram", "left")
        .select("unigram", F.coalesce("count", F.lit(0)).alias("count"))
        .orderBy("unigram")
    )
