"""ES-parity search API tests, incl. the slop examples documented in
wimbd/es/__init__.py:150-153.
"""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.search import (
    build_phrase_predicate,
    count_documents_containing_phrases,
    count_documents_for_each_phrase,
    count_total_occurrences_of_unigrams,
    get_documents_containing_phrases,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "I like apples", "en"),
        (2, "I really like apples", "en"),
        (3, "like I said", "en"),
        (4, "apples like I", "fr"),
        (5, "I like", "en"),
        (6, None, "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "subset"])


def _match_ids(corpus, **kw):
    df = get_documents_containing_phrases(corpus, num_documents=None, **kw)
    return sorted(r["doc_id"] for r in df.collect())


def test_phrase_exact_token_aligned(corpus):
    assert _match_ids(corpus, phrases=["I like"]) == [1, 5]


def test_phrase_slop(corpus):
    # "I like" slop=1 also matches "I really like" (documented intent,
    # wimbd/es/__init__.py:150-153) — but not "like I".
    assert _match_ids(corpus, phrases=["I like"], slop=1) == [1, 2, 5]


def test_phrase_or_and(corpus):
    assert _match_ids(corpus, phrases=["apples", "said"]) == [1, 2, 3, 4]
    assert _match_ids(
        corpus, phrases=["apples", "really"], all_phrases=True
    ) == [2]


def test_phrase_regexp(corpus):
    assert _match_ids(corpus, phrases=[r"^i\s+like"], is_regexp=True) == [1, 5]


def test_subset_filter(corpus):
    n = count_documents_containing_phrases(
        corpus, ["like"], filters={"subset": "en"}
    )
    assert n == 4


def test_count_for_each_phrase(corpus):
    got = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase(
            corpus, ["apples", ["I", "really"], "zzz"]
        ).collect()
    }
    assert got == {"apples": 3, "I AND really": 1, "zzz": 0}


def test_unigram_ttf(corpus):
    got = {
        r["unigram"]: r["count"]
        for r in count_total_occurrences_of_unigrams(
            corpus, ["I", "like", "zzz"]
        ).collect()
    }
    assert got == {"I": 5, "like": 5, "zzz": 0}


def test_retrieval_sorted_limited(corpus):
    rows = get_documents_containing_phrases(
        corpus, ["like"], num_documents=2, sort_field="doc_id"
    ).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]


def test_substring_mode(corpus):
    # token_aligned=False: raw contains — "I like" matches "apples like I"? no,
    # but substring "like I" does match doc 3 and 4.
    ids = _match_ids(corpus, phrases=["like I"], token_aligned=False)
    assert ids == [3, 4]


# ----------------------------------------------- one phrase-hit planner

_LONG = " ".join(f"w{i}" for i in range(34))  # past the 32-token gram cap


@pytest.fixture(scope="module")
def route_corpus(spark):
    from wimbd_spark.session import local_frame

    rows = [
        (1, "I like apples"),
        (2, "I really like apples"),
        (3, "like I said"),
        (4, f"apples like I {_LONG}"),
        (5, "I like"),
        (6, None),
        (7, "I like I like apples apples"),
        (7, "no match here"),  # a repeated id
        (8, f"{_LONG} I like"),
        (9, "I like apples"),  # the text of another row
        (9, "I like apples"),  # a duplicate row
    ]
    # spread over partitions by a shuffle, like a rebalanced table
    return local_frame(spark, rows, "doc_id long, text string").repartition(3)


_ELEMENTS = [
    "I like",
    "apples",
    ["I", "really"],
    ["like I", _LONG],  # an AND-group across the gram plan's branches
    "   ",  # blank: counts 0
    "I like",  # duplicate phrase
    ["apples", "  "],  # a group holding a blank never matches
    "zzz",
    _LONG,
]


def _pred_rows(df, phrases, all_phrases, slop):
    pred = build_phrase_predicate(phrases, all_phrases=all_phrases, slop=slop)
    return df.filter(pred)


@pytest.mark.parametrize("route", ["scan", "ac", "gram"])
@pytest.mark.parametrize("slop", [0, 1])
def test_search_rows_agree_on_every_route(
    spark, route_corpus, monkeypatch, route, slop
):
    """Every search entry point gives the predicate's rows on every
    route the planner can take (forced through the one rule), on a
    shuffled input: AND groups (one across the gram plan's overlong
    branch), NULL text, a blank phrase, a repeated id, rows sharing a
    text, a duplicate row and a duplicate phrase."""
    import wimbd_spark.operators.dedup as dd

    if route == "ac" and slop:
        pytest.skip("the automaton matches contiguous phrases only")
    monkeypatch.setattr(dd, "_route_rule", lambda *a: route)
    df = route_corpus

    want = sorted(
        (" AND ".join(g) if isinstance(g, list) else g,
         _pred_rows(df, g if isinstance(g, list) else [g], True, slop).count())
        for g in _ELEMENTS
    )
    got = sorted(
        map(
            tuple,
            count_documents_for_each_phrase(df, _ELEMENTS, slop=slop).collect(),
        )
    )
    assert got == want
    assert dict(got)["   "] == 0 and dict(got)["zzz"] == 0

    for phrases in (["I like", _LONG], ["apples", "really", "   "], ["   "]):
        for all_p in (False, True):
            match = _pred_rows(df, phrases, all_p, slop)
            assert count_documents_containing_phrases(
                df, phrases, all_phrases=all_p, slop=slop
            ) == match.count()
            assert sorted(
                map(
                    tuple,
                    get_documents_containing_phrases(
                        df, phrases, num_documents=None,
                        all_phrases=all_p, slop=slop,
                    ).collect(),
                )
            ) == sorted(map(tuple, match.collect())), (phrases, all_p)
            # a top-k takes k of those rows (the automaton stops each
            # partition's walk at k hits)
            top = get_documents_containing_phrases(
                df, phrases, num_documents=2, all_phrases=all_p, slop=slop
            ).collect()
            assert len(top) == min(2, match.count())
            assert set(map(tuple, top)) <= set(map(tuple, match.collect()))


def test_substring_counts_per_element(spark, route_corpus):
    """token_aligned=False counts each element's substring matches,
    duplicate elements included."""
    elements = ["like I", "like I", ["I", "apples"], "zzz"]
    got = count_documents_for_each_phrase(
        route_corpus, elements, token_aligned=False
    ).collect()
    want = sorted(
        (
            " AND ".join(g) if isinstance(g, list) else g,
            route_corpus.filter(
                build_phrase_predicate(
                    g if isinstance(g, list) else [g], all_phrases=True,
                    token_aligned=False,
                )
            ).count(),
        )
        for g in elements
    )
    assert sorted(map(tuple, got)) == want


def test_blank_phrase_matches_nothing_past_the_scan(spark, route_corpus):
    """A blank phrase in a batch big enough for the automaton counts 0
    and matches nothing (it used to raise "every phrase must contain
    >= 1 token" there, while the predicate counted it 0)."""
    phrases = ["I really"] + [f"zz{i}" for i in range(31)] + ["   "]
    got = dict(
        map(
            tuple,
            count_documents_for_each_phrase(route_corpus, phrases).collect(),
        )
    )
    assert got["   "] == 0 and got["I really"] == 1
    ids = [
        r.doc_id
        for r in get_documents_containing_phrases(
            route_corpus, phrases, num_documents=None
        ).collect()
    ]
    assert ids == [2]
    assert ids == [
        r.doc_id
        for r in get_documents_containing_phrases(
            route_corpus, phrases, num_documents=None, method="pred"
        ).collect()
    ]


def test_search_builds_with_no_spark_job(spark, route_corpus):
    """The route reads the per-length counts off the driver-side
    phrase list: building a search query on any route runs no job."""
    import uuid

    sc = spark.sparkContext
    many = [f"zz{i} yy" for i in range(40)]
    for build in (
        lambda: count_documents_for_each_phrase(route_corpus, many),
        lambda: count_documents_for_each_phrase(route_corpus, many, slop=1),
        lambda: count_documents_for_each_phrase(route_corpus, ["I like"]),
        lambda: get_documents_containing_phrases(route_corpus, many),
    ):
        group = f"search-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
