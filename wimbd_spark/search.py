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

Plan: the token-aligned entry points are thin tails over ONE
token-phrase hit function, operators.dedup._phrase_hits, which n-gram
decontamination also runs. Its route rule (operators.dedup._route_rule)
reads the per-length phrase counts off the driver-side phrase list (no
Spark job at construction). Counts are hit rows per element; retrieval
keeps the rows the automaton's hits carry whole, or filters with the
compiled predicate. No tail joins hits back on an id. ``is_regexp``
and ``token_aligned=False`` stay predicates.
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
    """Count docs matching the phrase query (ES es.count parity): the
    rows get_documents_containing_phrases retrieves."""
    return get_documents_containing_phrases(
        df, phrases, None, all_phrases, slop, is_regexp, filters,
        text_col=text_col, token_aligned=token_aligned,
    ).count()


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
) -> DataFrame:
    """Retrieve matching docs; num_documents=None returns all hits
    (≙ the PIT + search_after pagination loop, which Spark replaces
    with plain partition streaming via toLocalIterator).

    ``method``: ``"auto"`` (default) takes the token-phrase planner's
    route (operators.dedup._route_rule); ``"ac"`` forces the
    Aho-Corasick automaton; ``"pred"`` forces the compiled predicate
    (build_phrase_predicate). On the automaton route the rows are its
    hits at the "doc" grain, which carry each matching row whole (no
    key, no join back: repeated ids and duplicate rows come back as
    they are); an AND query then filters them with the predicate.
    Every other route filters with the predicate. ``is_regexp`` and
    ``token_aligned=False`` always filter, and ``method="ac"`` raises
    on them (and on slop>0). Row-identical on every route (pinned); a
    phrase without a token matches nothing."""
    from wimbd_spark.operators.dedup import (
        _check_method,
        _phrase_hits,
        _phrase_route,
    )

    _check_method(method, ("auto", "ac", "pred"))
    if not phrases:
        raise ValueError("phrases must be non-empty")
    out = apply_filters(df, filters)
    plan = None
    if token_aligned and not is_regexp:
        plan = _phrase_route(
            phrases, "scan" if method == "pred" else method, slop, None
        )
    elif method == "ac":
        raise ValueError(
            "method='ac' needs token_aligned=True and is_regexp=False"
        )
    filtered = True
    if plan is not None and plan.route == "ac" and plan.lengths:
        # the hits carry every column under a positional name and a
        # copy of the text, so matched rows come back whole
        cols = out.columns
        filtered = all_phrases  # the hits hold any phrase, not all
        cap = None if filtered or sort_field else num_documents
        out = _phrase_hits(
            out.select(
                *[F.col(c).alias(f"_c{i}") for i, c in enumerate(cols)],
                F.col(text_col).alias("_hit_text"),
            ),
            plan, "_hit_text", "doc", limit=cap,
        )
        if cap is not None:
            # top-k: each partition's walker stops at k hits; sorting
            # those reads the stream to its end (the limit would not)
            out = out.sortWithinPartitions("phrase")
        out = out.select(
            *[F.col(f"_c{i}").alias(c) for i, c in enumerate(cols)]
        )
    if filtered:
        out = out.filter(
            build_phrase_predicate(
                phrases, text_col, all_phrases, slop, is_regexp,
                token_aligned,
            )
        )
    if sort_field:
        out = out.orderBy(F.col(sort_field).asc())
    if num_documents is not None:
        out = out.limit(num_documents)
    return out


def count_documents_for_each_phrase(
    df: DataFrame,
    phrases: list[str] | list[list[str]],
    slop: int = 0,
    filters: dict[str, str] | None = None,
    text_col: str = "text",
    token_aligned: bool = True,
    method: str = "auto",
) -> DataFrame:
    """Per-phrase (or per AND-group) doc counts → (phrase, count),
    one row per input element, ordered by name (an AND-group is named
    "a AND b"), zero-filled like ES reports.

    The reference batches 500 ES msearch count queries per round trip
    (:308-344); here the whole batch is one plan at any corpus size:
    the token-phrase hits (operators.dedup._phrase_hits) give one row
    per (doc row, matching phrase), counted per element. AND-groups
    group the hits by a hash key of the text, which every branch of
    the hit plan computes alike: a text holding the whole group counts
    once per row that has it.

    ``method``: ``"auto"`` (default) takes the planner's route
    (operators.dedup._route_rule: the Aho-Corasick automaton at slop
    0, else the predicate scan for a handful of phrases and the gram
    join past it); ``"ac"`` forces the automaton (raises with slop>0
    or ``token_aligned=False``); ``"agg"`` forces the scan.
    Row-identical on every route (pinned). A phrase without a token
    counts 0 on every route. ``token_aligned=False`` counts raw
    substring ``contains`` with one predicate per element over the
    same scan.
    """
    from wimbd_spark.operators.dedup import (
        _check_method,
        _phrase_hits,
        _phrase_route,
    )

    _check_method(method, ("auto", "ac", "agg"))
    if not phrases:
        raise ValueError("phrases must be non-empty")
    spark = df.sparkSession
    groups = [p if isinstance(p, list) else [p] for p in phrases]
    names = [" AND ".join(g) for g in groups]
    base = apply_filters(df, filters)
    # each element's key, ``_e``: the sorted phrases it needs (None
    # when it holds a blank phrase: it never matches); elements with
    # one key share its count
    matched = None  # (_e, n): n more matching rows of the elements _e
    if token_aligned:
        keys = [
            sorted({" ".join(analyze_phrase(p)) for p in g}) for g in groups
        ]
        keys = [None if "" in k else k for k in keys]
        member = sorted({(p, tuple(k)) for k in keys if k for p in k})
        plan = _phrase_route(
            [p for p, _ in member], "scan" if method == "agg" else method,
            slop, None,
        )
        single = all(len(k) == 1 for k in keys if k)
        if plan.lengths and single:
            matched = _phrase_hits(
                base.select(text_col), plan, text_col
            ).select(F.array("phrase").alias("_e"), F.lit(1).alias("n"))
        elif plan.lengths:
            # AND-groups: a key of the text (two 64-bit hashes) groups
            # a doc's hits across the plan's branches; every doc row of
            # a text holding the whole group gives one hit row per
            # phrase of the group
            text = F.col(text_col)
            rows = base.select(
                F.xxhash64(text).alias("_k1"),
                F.xxhash64(F.lit(1), text).alias("_k2"),
                text_col,
            )
            matched = (
                _phrase_hits(rows, plan, text_col)
                .join(
                    F.broadcast(
                        local_frame(
                            spark,
                            [(p, list(k)) for p, k in member],
                            "phrase string, _e array<string>",
                        )
                    ),
                    "phrase",
                )
                .groupBy("_e", "_k1", "_k2")
                .agg(
                    F.count_distinct("phrase").alias("_has"),
                    F.count("*").alias("_hits"),
                )
                .filter(F.col("_has") == F.size("_e"))
                .select("_e", F.expr("_hits div _has").alias("n"))
            )
    elif method == "ac":
        raise ValueError("method='ac' needs token_aligned=True")
    else:  # an element's name is its key
        keys = [[n] for n in names]
        hit = F.array(
            *[
                F.when(
                    build_phrase_predicate(
                        g, text_col, True, token_aligned=False
                    ),
                    F.array(F.lit(n)),
                )
                for n, g in dict(zip(names, groups)).items()
            ]
        )
        matched = base.select(
            F.explode(F.filter(hit, Column.isNotNull)).alias("_e"),
            F.lit(1).alias("n"),
        )
    counted = local_frame(
        spark,
        [(k, n, 0) for k, n in zip(keys, names)],
        "_e array<string>, _name string, n long",
    )  # the zero fill, which also names the elements of each key
    if matched is not None:
        counted = matched.withColumn(
            "_name", F.lit(None).cast("string")
        ).unionByName(counted)
    return (
        counted.groupBy("_e")
        .agg(F.sum("n").alias("count"), F.collect_list("_name").alias("_ns"))
        .select(F.explode("_ns").alias("phrase"), "count")
        .coalesce(1)  # one row per element: sort it with no exchange
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
