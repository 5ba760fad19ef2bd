"""Aho-Corasick multi-pattern phrase counting — the many-phrase scale
path.

The engine answers per-phrase doc counts two ways already: the scan
batch (search.count_documents_for_each_phrase — ONE corpus pass, but
each document's token array is probed once PER PHRASE, so per-doc cost
and plan size grow linearly in the phrase count) and the postings
batch (index.count_documents_for_each_phrase_indexed — constant plan,
needs a prebuilt index). The reference's ES tier pays the scan shape
through 500-query msearch chunks (wimbd/es/__init__.py:308-344). At
eval-decontamination scale — tens of thousands of phrases, no index —
the right tool is a multi-pattern automaton (Aho & Corasick 1975):
build the trie + failure links ONCE (O(total pattern chars)), stream
each document through it once (O(doc chars + matches)) — per-document
cost independent of the phrase count.

Token alignment: the canonical tokenizer is whitespace split, so
"phrase tokens appear consecutively" is EXACTLY "' phrase '" being a
substring of "' ' + ' '.join(tokens) + ' '". Tokenization stays
JVM-side (the same `tokenize` every other operator uses — no Python
re-implementation to drift); Python only joins the tokens and walks
the automaton. Row-identity with the scan batch is test-pinned.

Plan shape: iterator mapInPandas emits per-PARTITION partial
(pattern_id, n_docs) counts — the shuffle carries at most
partitions × P tiny rows (the bounded-summary convention of
heavyhitters.py), never per-document rows; a final groupBy sums, and a
broadcast join against the pattern table restores zero-count phrases.
The automaton is built once per partition from the closure-shipped
pattern list. Pure-Python walking runs ~10-50 MB/s/core; the crossover
vs the JVM per-phrase conditional aggregates is measured in SCALE.md
(the automaton wins once P is in the hundreds).
"""

from __future__ import annotations

from collections import Counter, deque
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wimbd_spark.functions.text import tokenize
from wimbd_spark.session import local_frame


def _build_automaton(patterns: list[str]):
    """Dict-based Aho-Corasick: returns (goto, fail, out) where
    goto[s] maps char -> state, fail[s] is the failure link, and
    out[s] is the frozenset of pattern ids ending at state s."""
    goto: list[dict] = [{}]
    out: list[set] = [set()]
    fail: list[int] = [0]
    for pid, pat in enumerate(patterns):
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append(set())
                fail.append(0)
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].add(pid)
    q: deque = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            nxt = goto[f].get(ch, 0)
            fail[s] = nxt if nxt != s else 0
            out[s] |= out[fail[s]]
    return goto, fail, out


def _trie_regex(patterns: list[str]):
    """Compile the pattern set into a TRIE-structured regex (shared
    prefixes factor into one branch — no flat 10k-way alternation to
    backtrack through). The compiled object scans at C speed, which
    measured 6-7x the pure-Python automaton walk (20-37 MB/s vs
    3-5 MB/s at P=1k-10k, identical hit sets). `search()` answers
    EXISTENCE only — leftmost non-overlapping semantics lose overlapped
    /same-position matches — so it serves the ANY-mode walk directly
    and acts as a sound PREFILTER for the exact walks (a doc with any
    AC match necessarily has a regex hit)."""
    import re

    trie: dict = {}
    for p in patterns:
        node = trie
        for ch in p:
            node = node.setdefault(ch, {})
        node[""] = {}
    def emit(node: dict) -> str:
        if "" in node and len(node) == 1:
            return ""
        alts, has_end = [], False
        for ch, child in sorted(node.items()):
            if ch == "":
                has_end = True
                continue
            alts.append(re.escape(ch) + emit(child))
        if len(alts) == 1 and not has_end:
            return alts[0]
        return "(?:" + "|".join(alts) + ")" + ("?" if has_end else "")

    return re.compile(emit(trie))


# Per-PROCESS compiled-matcher cache: Python workers are reused across
# partitions (and micro-batches), so the O(total pattern chars) builds
# amortize to once per executor instead of once per task. FOUR slots —
# (automaton + prefilter regex) for TWO pattern sets — evicted FIFO,
# so a job that interleaves two phrase sets (e.g. two eval suites in
# one contamination audit) doesn't rebuild per batch. Worst-case
# per-worker budget: 2 × ~100 MB at the 20k-phrase automaton cap
# (r11 ADVICE: the comment previously claimed two slots).
_MATCHER_CACHE: dict = {}


def _compiled(pats: list[str], kind: str):
    import hashlib

    key = (
        hashlib.md5("\x00".join(pats).encode()).hexdigest(),
        kind,
    )
    hit = _MATCHER_CACHE.get(key)
    if hit is None:
        if len(_MATCHER_CACHE) >= 4:
            _MATCHER_CACHE.pop(next(iter(_MATCHER_CACHE)))
        hit = (
            _trie_regex(pats)
            if kind == "regex"
            else _build_automaton(pats)
        )
        _MATCHER_CACHE[key] = hit
    return hit


def _matched_counts(text: str, goto, fail, out) -> Counter:
    """Occurrence counts per pattern id — every end-state visit counts
    (overlapping occurrences included, the AC guarantee), so the count
    equals the number of gram positions the explode-join path emits."""
    s = 0
    c: Counter = Counter()
    root = goto[0]
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0) if s else root.get(ch, 0)
        if out[s]:
            for pid in out[s]:
                c[pid] += 1
    return c


def _matched_ids(text: str, goto, fail, out) -> set:
    s = 0
    hits: set = set()
    root = goto[0]
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0) if s else root.get(ch, 0)
        if out[s]:
            hits |= out[s]
    return hits


def count_documents_for_each_phrase_ac(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Per-phrase document counts → (phrase, count), row-identical to
    ``search.count_documents_for_each_phrase(phrases)`` (token-aligned,
    slop=0) — one automaton pass per document instead of one predicate
    per phrase."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    # analyze each phrase with the engine's query convention
    # (whitespace split, drop empties), space-pad for token alignment
    analyzed = [" ".join(p.split()) for p in phrases]
    if any(not a for a in analyzed):
        raise ValueError("every phrase must contain >= 1 token")
    pats = [f" {a} " for a in analyzed]

    toks = df.filter(F.col(text_col).isNotNull()).select(
        tokenize(F.col(text_col)).alias("toks")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        rx = _compiled(pats, "regex")
        goto, fail, out = _compiled(pats, "automaton")
        c: Counter = Counter()
        for pdf in batches:
            for arr in pdf["toks"]:
                if arr is None or len(arr) == 0:
                    continue
                padded = " " + " ".join(arr) + " "
                # C-speed prefilter: the exact (all-matches) walk only
                # runs on docs the regex proves contain >= 1 pattern
                if rx.search(padded) is None:
                    continue
                for pid in _matched_ids(padded, goto, fail, out):
                    c[pid] += 1
        if c:
            yield pd.DataFrame(
                {"pid": list(c.keys()), "n": list(c.values())}
            )

    partial = toks.mapInPandas(gen, "pid long, n long")
    totals = partial.groupBy("pid").agg(F.sum("n").alias("count"))
    names = local_frame(
        df.sparkSession,
        [(i, p) for i, p in enumerate(phrases)],
        "pid long, phrase string",
    )
    return (
        F.broadcast(names)
        .join(totals, "pid", "left")
        .select(
            "phrase",
            F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
        )
        .orderBy("phrase")
    )


def matching_doc_ids_ac(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    all_phrases: bool = False,
) -> DataFrame:
    """Ids of documents containing ANY (or, with ``all_phrases``,
    EVERY) phrase — the automaton form of the OR-of-contains
    predicate, for phrase lists too large to compile into a plan.
    Returns a (id_col) DataFrame to LEFT SEMI join against the corpus
    (`search.get_documents_containing_phrases(method="ac")` does
    exactly that); per-doc cost independent of the phrase count."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    analyzed = [" ".join(p.split()) for p in phrases]
    if any(not a for a in analyzed):
        raise ValueError("every phrase must contain >= 1 token")
    pats = [f" {a} " for a in analyzed]
    need = len(set(pats)) if all_phrases else 1

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        tokenize(F.col(text_col)).alias("toks"),
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        rx = _compiled(pats, "regex")
        if all_phrases:
            goto, fail, out = _compiled(pats, "automaton")
        for pdf in batches:
            ids = []
            for i, arr in zip(pdf["__id"], pdf["toks"]):
                if arr is None or len(arr) == 0:
                    continue
                padded = " " + " ".join(arr) + " "
                if all_phrases:
                    # C-speed prefilter, then the exact all-matches
                    # walk; count distinct PATTERN STRINGS matched
                    # (dup phrases in the input list count once)
                    if rx.search(padded) is None:
                        continue
                    hit = _matched_ids(padded, goto, fail, out)
                    if len({pats[p] for p in hit}) >= need:
                        ids.append(i)
                elif rx.search(padded) is not None:
                    # ANY-mode is pure existence: the trie regex IS
                    # the walk (measured 6-7x the per-char automaton)
                    ids.append(i)
            if ids:
                yield pd.DataFrame({"__id": ids})

    schema = toks.select("__id").schema
    return toks.mapInPandas(gen, schema).withColumnRenamed(
        "__id", id_col
    )


def phrase_hits_ac(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Per-OCCURRENCE phrase hits: one output row per (doc, phrase
    occurrence) carrying the doc's columns (minus ``text_col``) plus
    ``phrase`` — the automaton form of the contamination-audit
    explode-join (streaming.streaming_contamination_hits routes here),
    row-multiset-identical to it: ``_matched_counts`` counts every
    end-state visit, which is exactly the number of gram positions the
    explode emits, overlapping occurrences included. Phrases LONGER
    than GRAM_JOIN_MAX_PHRASE_TOKENS are capped at ONE row per doc —
    the gram path matches those via a contains EXISTENCE join (one
    row per (doc, phrase), however many occurrences), and the parity
    contract follows the gram semantics (r11 ADVICE: method='auto'
    flips routes on phrase-set shape, so the audit row multiset must
    not depend on the route). Works on batch AND streaming DataFrames
    (stateless mapInPandas)."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    analyzed = [" ".join(p.split()) for p in phrases]
    if any(not a for a in analyzed):
        raise ValueError("every phrase must contain >= 1 token")
    pats = [f" {a} " for a in analyzed]
    names = [p.strip() for p in pats]
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS

    overlong = [
        len(a.split()) > GRAM_JOIN_MAX_PHRASE_TOKENS for a in analyzed
    ]

    keep = [c for c in df.columns if c != text_col]
    toks = df.filter(F.col(text_col).isNotNull()).select(
        *keep, tokenize(F.col(text_col)).alias("__toks")
    )
    out_schema = toks.drop("__toks").withColumn(
        "phrase", F.lit("")
    ).schema

    def gen(batches: Iterator) -> Iterator:
        rx = _compiled(pats, "regex")
        goto, fail, out = _compiled(pats, "automaton")
        for pdf in batches:
            rows = {c: [] for c in keep}
            ph: list = []
            for idx in range(len(pdf)):
                arr = pdf["__toks"].iloc[idx]
                if arr is None or len(arr) == 0:
                    continue
                padded = " " + " ".join(arr) + " "
                if rx.search(padded) is None:
                    continue
                for pid, cnt in _matched_counts(
                    padded, goto, fail, out
                ).items():
                    if overlong[pid]:
                        cnt = 1  # gram path = contains existence join
                    for _ in range(cnt):
                        for c in keep:
                            rows[c].append(pdf[c].iloc[idx])
                        ph.append(names[pid])
            if ph:
                import pandas as pd

                rows["phrase"] = ph
                yield pd.DataFrame(rows)

    return toks.mapInPandas(gen, out_schema)
