"""Aho-Corasick multi-pattern phrase matching — the automaton route
of the token-phrase hit function (operators.dedup._phrase_hits).

A multi-pattern automaton (Aho & Corasick 1975) is built ONCE per
phrase set (O(total pattern chars)) and streams each document through
it once (O(doc chars + matches)): per-document cost independent of
the phrase count and of the phrase-length mix. The search tails,
n-gram decontamination and the streaming audit take this route where
dedup._route_rule picks it (slop 0 and the canonical tokenizer, from
one phrase up); its cost against the predicate scan and the gram join
is measured by tools/phrase_route_ab.py (SCALE.md).

Token alignment: the canonical tokenizer is whitespace split, so
"phrase tokens appear consecutively" is EXACTLY "' phrase '" being a
substring of "' ' + ' '.join(tokens) + ' '". Tokenization stays
JVM-side (the same `tokenize` every other operator uses — no Python
re-implementation to drift); Python only joins the tokens and walks
the automaton, behind a C-speed trie-regex prefilter. Row-identity
with the gram join and the scan is test-pinned.

Plan shape: one stateless mapInPandas emits hit rows (doc columns +
phrase) at the grain the caller asks for; the automaton is built once
per Python worker from the closure-shipped pattern list and cached
(``_MATCHER_CACHE``). Pure-Python walking runs ~10-50 MB/s/core.
"""

from __future__ import annotations

from collections import Counter, deque
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wimbd_spark.functions.text import tokenize


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


def phrase_hits_ac(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    grain: str = "occurrence",
    limit: int | None = None,
) -> DataFrame:
    """Phrase hits by one automaton pass: rows carrying the doc's
    columns (minus ``text_col``) plus ``phrase`` (its space-joined
    tokens) — the AC route of the token-phrase hit function
    (operators.dedup._phrase_hits). ``grain`` picks the rows:

    - "occurrence": one row per (doc, phrase occurrence),
      row-multiset-identical to the gram hit plan
      (dedup._gram_phrase_hits) that streaming_contamination_hits
      also runs: ``_matched_counts`` counts every end-state visit,
      which is exactly the number of gram positions the explode
      emits, overlapping occurrences included. Phrases LONGER than
      GRAM_JOIN_MAX_PHRASE_TOKENS are capped at ONE row per doc — the
      gram path matches those via a contains EXISTENCE join, and the
      audit row multiset must not depend on the route (r11 ADVICE);
    - "phrase": one row per (doc, distinct matching phrase);
    - "doc": one row per matching doc, naming the leftmost match —
      the trie regex alone decides it, no per-char walk.

    ``limit`` caps each partition's rows for a consumer that takes no
    more: past it the rest of the input is read, not walked, so the
    stream still ends and its Python worker is reused.

    Works on batch AND streaming DataFrames (stateless mapInPandas)."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    if grain not in ("occurrence", "phrase", "doc"):
        raise ValueError(f"unknown grain {grain!r}")
    analyzed = [" ".join(p.split()) for p in phrases]
    if any(not a for a in analyzed):
        raise ValueError("every phrase must contain >= 1 token")
    pats = [f" {a} " for a in analyzed]
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

    def doc_hits(padded: str, rx, automaton) -> list[tuple[str, int]]:
        """(phrase, rows) pairs of one padded doc."""
        m = rx.search(padded)
        if m is None:
            return []
        if grain == "doc":
            return [(m.group(0).strip(), 1)]
        if grain == "phrase":
            hit = {analyzed[p] for p in _matched_ids(padded, *automaton)}
            return [(a, 1) for a in hit]
        return [
            (analyzed[p], 1 if overlong[p] else n)
            for p, n in _matched_counts(padded, *automaton).items()
        ]

    def gen(batches: Iterator) -> Iterator:
        rx = _compiled(pats, "regex")
        automaton = None if grain == "doc" else _compiled(pats, "automaton")
        left = limit
        for pdf in batches:
            if left == 0:
                continue
            at: list[int] = []  # the batch row of each hit row
            ph: list[str] = []
            for idx, arr in enumerate(pdf["__toks"]):
                if arr is None or len(arr) == 0:
                    continue
                padded = " " + " ".join(arr) + " "
                for name, n in doc_hits(padded, rx, automaton):
                    at += [idx] * n
                    ph += [name] * n
                if left is not None and len(ph) >= left:
                    break
            if left is not None:
                at, ph = at[:left], ph[:left]
                left -= len(ph)
            if ph:
                yield pdf[keep].iloc[at].reset_index(drop=True).assign(
                    phrase=ph
                )

    return toks.mapInPandas(gen, out_schema)
