"""Column-level text/URL/hash functions — the engine's scalar surface.

Everything here is a pure ``Column`` expression (JVM-side, whole-stage
codegen) — including ``tokenize_words``, whose UAX-29 segmentation
runs as one Java regex matching the reference tokenizer
(src/tokens.rs:8-17). ``_uax29_words`` is the same segmentation in
Python: the analyzer for driver-side phrases (index.py) and the tests'
reference.

Reference parity map (file:line relative to /root/reference):
- tokenize            src/tokens.rs:8-17 (unicode words); wimbd/url_per_tok_counts/map_count.py:19-20
- ngrams              src/ngrams/mod.rs:46-112; src/cmd/topk.rs:218-236
- doc_hash (md5)      wimbd/text_and_url_overlaps/helper_scripts/get_text_hashes.py:11-17
- url_host            wimbd/url_counts/map_count.py:17-19
- url_scheme          wimbd/scheme_counts/map_count.py:17-19
- url_ext_bucket      wimbd/extension_counts/map_count.py:17-23
- year_of             wimbd/utterance_dates/map_count.py:8-24
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def let(expr: Column, body) -> Column:
    """Single-evaluation let-binding for expression trees.

    ``body`` receives ``expr`` as a BOUND higher-order-function lambda
    variable: Spark evaluates ``expr`` once per row, and every
    reference inside ``body`` is a plain value read. Use whenever a
    per-element lambda (transform / filter / exists / aggregate) would
    otherwise reference a COMPUTED expression — each such reference
    re-embeds and re-evaluates the whole subtree per element, turning
    O(n)-per-row plans into O(n²) (measured, r8: at constant total
    token volume, sliding-window gram generation over tokenize(text)
    cost 1.9 s on 50-token docs but 82 s on 5000-token docs before
    this binding, and winnowing fingerprint selection went from
    minutes to seconds). NULL-safe: array(NULL) carries the NULL
    through ``body`` exactly like a direct reference would.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def tokenize(text: Column | str) -> Column:
    """Canonical engine tokenizer: split on whitespace runs, drop empties.

    This is the fast JVM-side default; ``tokenize_words`` gives Unicode
    word-boundary behavior closer to src/tokens.rs:8-17. The reference
    itself ships three inconsistent tokenizers (unicode-segmentation,
    uniseg, nltk.wordpunct) — SURVEY.md §7.4(1) — so the engine picks
    one canonical fast path and documents the divergence.

    Built-in array functions only: a lambda higher-order function
    (``filter``/``transform``) is ``CodegenFallback``, so inside the
    compiled stage its body is interpreted once per array element. Where
    a single built-in is exact — here ``array_remove`` of the empty
    strings, since ``split`` never yields NULL elements — use it; NULL
    text still gives NULL and whitespace-only text ``[]``.
    """
    c = _col(text)
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def term_count(tokens: Column | str, term: str) -> Column:
    """Occurrences of ``term`` in a token array, as
    ``size(t) - size(array_remove(t, term))``: two built-ins in place
    of a per-token ``filter`` lambda (see ``tokenize``). NULL tokens
    give NULL under ANSI mode (the default), like ``size(filter(...))``."""
    t = _col(tokens)
    return F.size(t) - F.size(F.array_remove(t, term))


# UAX-29 mid-character sets (subset of the UCD Word_Break property
# values the reference's unicode-segmentation crate uses):
_WB_MID_LETTER = {":", "·", "‧", "״", "﹕", "："}
_WB_MID_NUMLET = {".", "'", "’", "․", "﹒", "．", "＇"}
_WB_MID_NUM = {",", ";", "٬", "﹐", "﹔", "，", "；"}


# ASCII fast path: for pure-ASCII text the UAX-29 subset below is
# expressible as ONE regex (classes restricted to ASCII: AL=[A-Za-z],
# NU=[0-9], EX=[_], MidLetter=":", MidNumLet=".'", MidNum=",;"), so a
# batch element costs one C-level scan instead of a Python char loop.
# A mid character joins iff its immediate neighbors are both letters
# (MidLetter ∪ MidNumLet) or both digits (MidNum ∪ MidNumLet) —
# checked with lookarounds on the actual neighbor characters, exactly
# like the char loop's one-char lookahead. Any other non-space char is
# its own token.
_ASCII_TOKEN = _re.compile(
    r"[A-Za-z0-9_]+"
    r"(?:(?:(?<=[A-Za-z])[:.'](?=[A-Za-z])|(?<=[0-9])[.,;'](?=[0-9]))"
    r"[A-Za-z0-9_]+)*"
    r"|[^\sA-Za-z0-9_]"
)

# per-character Word_Break class, memoized — natural text repeats a
# tiny alphabet, so the unicodedata lookup runs once per distinct char
# per process, not once per occurrence
_CLS_CACHE: dict[str, str] = {}


def _wb_cls(ch: str) -> str:
    k = _CLS_CACHE.get(ch)
    if k is not None:
        return k
    import unicodedata

    if ch.isspace():
        k = "WS"
    elif ch == "_":
        k = "EX"  # ExtendNumLet
    else:
        o = ord(ch)
        if 0x30A0 <= o <= 0x30FF or 0x31F0 <= o <= 0x31FF or 0xFF66 <= o <= 0xFF9D:
            k = "KA"  # Katakana (joins)
        elif (
            0x3040 <= o <= 0x309F  # Hiragana
            or 0x3400 <= o <= 0x4DBF  # Han ext A
            or 0x4E00 <= o <= 0x9FFF  # Han
            or 0xF900 <= o <= 0xFAFF  # Han compat
        ):
            k = "IDEO"  # Word_Break=Other → break every char
        else:
            cat = unicodedata.category(ch)
            if cat == "Nd":
                k = "NU"
            elif cat[0] == "L" or cat in ("Mn", "Mc", "Nl"):
                k = "AL"
            else:
                k = "O"
    _CLS_CACHE[ch] = k
    return k


def _uax29_words(t: str) -> list[str]:
    """UAX-29 word segmentation (subset), matching the behavior of
    Rust's unicode-segmentation ``split_word_bounds`` with whitespace
    segments dropped (src/tokens.rs:8-17):

    - letter/digit/underscore runs join (WB5/8/9/10/13a/b);
    - MidLetter/MidNumLet between letters, MidNum/MidNumLet between
      digits join ("don't", "U.S.A", "2.0", "1,000" — WB6/7/11/12);
    - Katakana joins Katakana (WB13); Han and Hiragana have
      Word_Break=Other → one segment per character;
    - every other non-whitespace char is its own single-char token
      (punctuation IS a token, exactly like the reference).

    Pure-ASCII inputs take the compiled-regex fast path (identical
    output — differential-tested against the char loop); only
    non-ASCII text runs the char loop.
    """
    if t.isascii():
        return _ASCII_TOKEN.findall(t)
    return _uax29_words_loop(t)


def _uax29_words_loop(t: str) -> list[str]:
    def joins(a: str, b: str) -> bool:
        word = ("AL", "NU", "KA", "EX")
        if a == "EX" or b == "EX":
            return a in word and b in word
        if a in ("AL", "NU") and b in ("AL", "NU"):
            return True
        return a == "KA" and b == "KA"

    cls = _wb_cls
    out: list[str] = []
    i, n = 0, len(t)
    while i < n:
        k = cls(t[i])
        if k == "WS":
            i += 1
            continue
        if k in ("AL", "NU", "KA", "EX"):
            j, last = i + 1, k
            while j < n:
                cj = cls(t[j])
                if joins(last, cj):
                    last = cj
                    j += 1
                    continue
                if j + 1 < n:
                    cn = cls(t[j + 1])
                    ch = t[j]
                    if last == "AL" and cn == "AL" and (
                        ch in _WB_MID_LETTER or ch in _WB_MID_NUMLET
                    ):
                        last, j = "AL", j + 2
                        continue
                    if last == "NU" and cn == "NU" and (
                        ch in _WB_MID_NUM or ch in _WB_MID_NUMLET
                    ):
                        last, j = "NU", j + 2
                        continue
                break
            out.append(t[i:j])
            i = j
        else:
            out.append(t[i])
            i += 1
    return out


# --- JVM form of _uax29_words: the whole segmentation as ONE Java
# regex for regexp_extract_all, so tokenize_words stays inside
# whole-stage codegen instead of paying an Arrow round-trip per batch
# (r13 VERDICT item 5 — the last Python-rate operator on a parity
# path). The automaton is the char loop's, written with single-char
# lookbehinds:
#   token := W0 cont*  |  any other non-space char (its own token)
#   cont  := AL/NU after an AL/NU/EX char        (WB5/8/9/10/13a/b)
#          | KA after a KA/EX char               (WB13/13a/b)
#          | EX after anything in-token          (joins every class)
#          | MidLetter/MidNumLet + AL after AL   (WB6/7)
#          | MidNum/MidNumLet + NU after NU      (WB11/12)
# Mid units consume mid + follower TOGETHER so the next iteration's
# lookbehind lands on a word char, mirroring the loop's j += 2.
_KA_R = r"\x{30A0}-\x{30FF}\x{31F0}-\x{31FF}\x{FF66}-\x{FF9D}"
_IDEO_R = (
    r"\x{3040}-\x{309F}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}"
    r"\x{F900}-\x{FAFF}"
)
_J_AL = rf"[\p{{L}}\p{{Mn}}\p{{Mc}}\p{{Nl}}&&[^{_KA_R}{_IDEO_R}]]"
_J_ALNU = rf"[\p{{L}}\p{{Mn}}\p{{Mc}}\p{{Nl}}\p{{Nd}}&&[^{_KA_R}{_IDEO_R}]]"
_J_ALNUEX = (
    rf"[\p{{L}}\p{{Mn}}\p{{Mc}}\p{{Nl}}\p{{Nd}}_&&[^{_KA_R}{_IDEO_R}]]"
)
# NB: the char loop classes the Katakana BLOCKS as KA before looking
# at the category, so non-letter block members (・ U+30FB Po, ゠ U+30A0
# Pd) are word chars too — the raw ranges ride in the union here.
_J_W0 = rf"[\p{{L}}\p{{Mn}}\p{{Mc}}\p{{Nl}}\p{{Nd}}_{_KA_R}&&[^{_IDEO_R}]]"
_J_KA = rf"[{_KA_R}]"
_J_KAEX = rf"[{_KA_R}_]"
_J_MIDNUMLET = r".'\x{2019}\x{2024}\x{FE52}\x{FF0E}\x{FF07}"
_J_MIDL = rf"[:\x{{B7}}\x{{2027}}\x{{5F4}}\x{{FE55}}\x{{FF1A}}{_J_MIDNUMLET}]"
_J_MIDN = rf"[,;\x{{66C}}\x{{FE50}}\x{{FE54}}\x{{FF0C}}\x{{FF1B}}{_J_MIDNUMLET}]"
# ASCII fast branch, tried FIRST: one possessive run (plus python-
# identical ASCII mid rules) ending in a guard that proves the full
# automaton could not extend the match — the next char is not a word
# char (letters/digits/marks/_/Katakana-block, minus ideographs) and
# not a mid+joiner two-char unit. Sentence-final "word." stays on the
# fast branch (the '.' fails both guard alternatives); "don’t" falls
# through to the automaton, which joins it. Quantifiers throughout
# are possessive (++/*+): the automaton is deterministic, so saved
# backtracking states are pure overhead (measured ~20%).
_J_GUARD = rf"(?!{_J_W0}|{_J_MIDL}{_J_AL}|{_J_MIDN}\p{{Nd}})"
_J_ASCII_FAST = (
    r"[A-Za-z0-9_]++"
    r"(?:(?:(?<=[A-Za-z])[:.'](?=[A-Za-z])|(?<=[0-9])[.,;'](?=[0-9]))"
    r"[A-Za-z0-9_]++)*+" + _J_GUARD
)
_UAX29_JAVA_PATTERN = (
    rf"{_J_ASCII_FAST}"
    rf"|{_J_W0}"
    rf"(?:(?<={_J_ALNUEX}){_J_ALNU}"
    rf"|(?<={_J_KAEX}){_J_KA}"
    rf"|_"
    rf"|(?<={_J_AL}){_J_MIDL}{_J_AL}"
    rf"|(?<=\p{{Nd}}){_J_MIDN}\p{{Nd}})*+"
    rf"|[^\s]"
)


def tokenize_words(text: Column | str) -> Column:
    """Unicode word-boundary tokenizer.

    UAX-29 word segmentation matching src/tokens.rs:8-17
    (split_word_bounds + drop whitespace-only segments): "2.0", "RSS",
    "don't" stay single tokens, standalone punctuation is kept as its
    own token, CJK ideographs segment per-character, Katakana runs
    join.

    Evaluated as ONE Java regex inside whole-stage codegen
    (regexp_extract_all) — no Python workers, no Arrow transfer;
    value-identical to ``_uax29_words`` on the src/tokens.rs goldens
    and a differential corpus (tested). A Python char loop is faster
    only on long non-Latin words (SCALE.md, tokenizer notes).
    """
    return F.regexp_extract_all(
        _col(text), F.lit(_UAX29_JAVA_PATTERN), F.lit(0)
    )


def ngrams(tokens: Column | str, n: int) -> Column:
    """Sliding n-token windows (full windows only) as array<array<string>>.

    Parity: src/ngrams/mod.rs:46-112 (step=1, only complete windows).
    Pure SQL — no UDF: sequence + transform + slice.
    """
    empty = F.array().cast("array<array<string>>")
    # let-bound: the token array is evaluated once per row, not once
    # per window (the O(n²) hazard documented on `let`)
    return let(
        _col(tokens),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.slice(t, i, n),
            ),
        ).otherwise(empty),
    )


def ngram_strings(tokens: Column | str, n: int, sep: str = " ") -> Column:
    """N-grams rendered as joined strings (the groupBy-friendly form).

    `topk` renders n-grams joined by spaces for output
    (src/cmd/topk.rs:303-309); grouping on a flat string also avoids
    array comparators in the shuffle.

    A 1-gram is its token, so ``n == 1`` returns the tokens themselves
    (NULL → ``[]``) with no per-token lambda. That shortcut assumes
    tokens with no NULL elements, which holds for ``tokenize`` output;
    the window form would render a NULL element as ``""``.
    """
    empty = F.array().cast("array<string>")
    if n == 1:
        return F.coalesce(_col(tokens), empty)
    return let(
        _col(tokens),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), sep),
            ),
        ).otherwise(empty),
    )


_CHAR_NGRAM_SHORT = 200  # chars; crossover measured in SCALE.md (r10)


def char_ngrams(text: Column | str, n: int) -> Column:
    """Character n-grams (src/ngrams/mod.rs:150-173 char case).

    Used as shingles for near-dup (MinHash/SimHash) too.

    Two regimes (both over a let-bound input, single evaluation):

    * short documents (≤ ``_CHAR_NGRAM_SHORT`` chars): per-window
      ``substring(s, i, n)`` directly on the string. substring's
      position seek is a byte scan — O(i) per call, O(len²) per doc —
      but at ≤200 chars that is ≤ ~40k byte reads, cheaper than
      materializing a char array and per-window slice+join (measured
      r8: the array form cost 1.7× on 50-token docs).
    * long documents: split-to-chars ONCE, then slice+array_join over
      the bound char array — O(n) per window at ANY offset, which is
      what keeps gram generation linear in doc length (measured 22 s →
      2 s for 400×5000-token docs, SCALE.md document-length section).

    split("") advances by codepoint (Java 8+ regex), matching
    substring's character counting, so both regimes emit identical
    grams on any UTF-8 text.
    """
    empty = F.array().cast("array<string>")
    return let(
        _col(text),
        lambda s: F.when(
            F.length(s) >= n,
            F.when(
                F.length(s) <= _CHAR_NGRAM_SHORT,
                F.transform(
                    F.sequence(F.lit(1), F.length(s) - F.lit(n - 1)),
                    lambda i: F.substring(s, i, F.lit(n)),
                ),
            ).otherwise(
                let(
                    F.split(s, ""),
                    lambda ch: F.transform(
                        F.sequence(F.lit(1), F.size(ch) - F.lit(n - 1)),
                        lambda i: F.array_join(F.slice(ch, i, n), ""),
                    ),
                )
            ),
        ).otherwise(empty),
    )


def doc_hash(text: Column | str) -> Column:
    """MD5 hex digest of text; literal "None" for null text.

    Parity: helper_scripts/get_text_hashes.py:11-17 (including the
    stringified-None convention for missing text).
    """
    c = _col(text)
    return F.coalesce(F.md5(c), F.lit("None"))


def hash32(c: Column | str, salt: str | None = None) -> Column:
    """Portable deterministic 32-bit hash as BIGINT: first 8 hex chars
    of md5, parsed base-16. Chosen over xxhash64 because the DuckDB
    oracle can reproduce it exactly (('0x'||substr(md5(x),1,8))::BIGINT).
    """
    s = _col(c).cast("string")
    if salt is not None:
        s = F.concat(F.lit(salt), F.lit(":"), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def hash64(c: Column | str) -> Column:
    """Fast non-portable 64-bit hash (xxhash64) for internal bucketing
    where no oracle needs to reproduce it."""
    return F.xxhash64(_col(c))


def url_host(url: Column | str) -> Column:
    """Host component of a URL (urlparse().netloc parity,
    wimbd/url_counts/map_count.py:17-19)."""
    return F.try_parse_url(_col(url), F.lit("HOST"))


def url_scheme(url: Column | str) -> Column:
    """Scheme component (wimbd/scheme_counts/map_count.py:17-19).

    Spark's parse_url has no PROTOCOL part; regexp is exact and stays
    codegen'd.
    """
    return F.regexp_extract(_col(url), r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)


# tracking query params dropped by url_normalize (the C4/CCNet
# canonicalization set: UTM campaign tags + the big ad-click ids)
_URL_TRACKING_RE = r"^(utm_[^=&]*|gclid|fbclid|msclkid|mc_eid)="
_URL_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"


def url_normalize(url: Column | str) -> Column:
    """Canonical URL for URL-level dedup (the C4/CCNet convention —
    the reference's URL-overlap analyses,
    wimbd/text_and_url_overlaps/, compare raw strings and so miss
    `https://HOST:443/x/#frag?utm_source=a` == `https://host/x`-class
    duplicates). The scheme is lowercased but PRESERVED: http:// and
    https:// copies of one page stay distinct keys — protocol-folding
    is a recall/precision trade this function deliberately does not
    make (an http and an https URL can serve different content):

    1. strip the ``#fragment``;
    2. lowercase the scheme and authority (path/query case preserved —
       paths are case-sensitive, hosts are not);
    3. drop the scheme's default port (``:80`` http / ``:443`` https);
    4. drop tracking query params (``utm_*``, ``gclid``, ``fbclid``,
       ``msclkid``, ``mc_eid``), and the ``?`` when none survive;
    5. strip trailing ``/`` from the path.

    Scheme-less strings pass through unchanged (normalize what parses;
    don't invent structure); NULL stays NULL. Pure Column expressions
    — whole-stage-codegen'd, one evaluation of the input via let().
    """

    def norm(u: Column) -> Column:
        nofrag = F.regexp_replace(u, r"#.*", "")
        scheme = F.lower(
            F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        )
        auth = F.lower(
            F.regexp_extract(nofrag, _URL_SCHEME_RE + r"([^/?#]*)", 1)
        )
        rest = F.regexp_extract(nofrag, _URL_SCHEME_RE + r"[^/?#]*(.*)", 1)
        auth = (
            F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
            .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
            .otherwise(auth)
        )
        path = F.regexp_replace(
            F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", ""
        )
        query = F.regexp_extract(rest, r"\?(.*)", 1)
        kept = F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
        )
        qpart = F.when(
            F.size(kept) > 0,
            F.concat(F.lit("?"), F.array_join(kept, "&")),
        ).otherwise(F.lit(""))
        return F.when(
            scheme == "", u  # scheme-less: pass through
        ).otherwise(F.concat(scheme, F.lit("://"), auth, path, qpart))

    return let(_col(url), norm)


# Full Mozilla Public Suffix List (vendored snapshot of the
# publicsuffix.org dat file — ICANN + private sections, ~9.5k rules),
# parsed once per process into exact / wildcard / exception sets.
_PSL_CACHE: tuple[frozenset, frozenset, frozenset] | None = None
_PSL_MAX_LABELS = 5  # longest exact rule; wildcard tails are ≤4 (+1)


def _load_psl() -> tuple[frozenset, frozenset, frozenset]:
    global _PSL_CACHE
    if _PSL_CACHE is None:
        import os

        path = os.path.join(
            os.path.dirname(__file__), "..", "data", "public_suffix_list.dat"
        )
        def forms(rule: str) -> list[str]:
            # Hosts from try_parse_url are punycode for IDN URLs
            # (xn--…), while the dat file carries unicode rules — index
            # BOTH forms so internationalized suffixes match either way
            # (tldextract parity: it idna-normalizes both sides).
            if rule.isascii():
                return [rule]
            try:
                puny = ".".join(
                    lb if lb.isascii() else lb.encode("idna").decode("ascii")
                    for lb in rule.split(".")
                )
            except UnicodeError:
                return [rule]
            return [rule, puny]

        exact, wc, exc = set(), set(), set()
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("//"):
                    continue
                rule = line.split()[0].lower()
                if rule.startswith("!"):
                    exc.update(forms(rule[1:]))
                elif rule.startswith("*."):
                    wc.update(forms(rule[2:]))
                else:
                    exact.update(forms(rule))
        _PSL_CACHE = (frozenset(exact), frozenset(wc), frozenset(exc))
    return _PSL_CACHE


def url_suffix(url: Column | str) -> Column:
    """Public-suffix (TLD+) of the URL host via the FULL public-suffix
    list; longest matching rule wins; no match → NULL.

    Parity: wimbd/high_level_domain_counts/map_count.py:17-21
    (tldextract.extract(url).suffix, empty dropped — so an unlisted TLD
    yields NULL here, like tldextract's '' suffix). Implements the PSL
    algorithm: exact rules, wildcard rules (*.bd), exception rules
    (!www.ck → suffix is the rule minus its leftmost label).

    Pure JVM expression: per candidate depth k (5..1) a set-membership
    probe — Catalyst converts each large isin to an O(1) InSet hash
    lookup, so the scan stays whole-stage-codegen'd with no UDF and no
    join. (A broadcast-join variant would also work but puts a shuffle
    boundary where a scalar is enough.)
    """
    exact, wc, exc = _load_psl()
    # a rule with j labels can only match the j-label candidate — bucket
    # the sets by depth so each probe's InSet holds only same-depth rules
    by_depth = lambda s: {
        k: [r for r in s if r.count(".") + 1 == k]
        for k in range(1, _PSL_MAX_LABELS + 1)
    }
    exact_k, wc_k, exc_k = by_depth(exact), by_depth(wc), by_depth(exc)

    host = F.lower(F.try_parse_url(_col(url), F.lit("HOST")))
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def tail(k: int) -> Column:
        return F.array_join(F.slice(labels, n - k + 1, k), ".")

    branches = []
    for k in range(_PSL_MAX_LABELS, 0, -1):
        tk = tail(k)
        is_exc = tk.isin(*exc_k[k]) if exc_k[k] else F.lit(False)
        valid = tk.isin(*exact_k[k]) if exact_k[k] else F.lit(False)
        if k >= 2 and wc_k[k - 1]:
            valid = valid | tail(k - 1).isin(*wc_k[k - 1])
        hit = F.when(is_exc, tail(k - 1) if k >= 2 else F.lit(None)).otherwise(
            F.when(valid, tk)
        )
        branches.append(F.when(n >= k, hit))
    return F.coalesce(*branches)


def url_ext_bucket(url: Column | str) -> Column:
    """File-extension bucket jpg/png/jpeg/other of the URL path
    (wimbd/extension_counts/map_count.py:17-23)."""
    path = F.try_parse_url(_col(url), F.lit("PATH"))
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    return F.when(ext.isin("jpg", "png", "jpeg"), ext).otherwise(F.lit("other"))


def year_of(*date_cols: Column | str) -> Column:
    """Year from the first parseable of several date-ish columns.

    Parity: wimbd/utterance_dates/map_count.py:8-24 (probes keys
    date/timestamp/created, dateutil-parses, falls back to the leading
    4-digit fast path).
    """
    cands = [F.year(F.to_timestamp(_col(c).cast("string"))) for c in date_cols]
    fast = [
        F.when(
            _col(c).cast("string").rlike(r"^\d{4}-"),
            F.substring(_col(c).cast("string"), 1, 4).cast("int"),
        )
        for c in date_cols
    ]
    return F.coalesce(*cands, *fast)
