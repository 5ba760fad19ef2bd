"""Driver-job budget of the benchmarked queries (BENCHMARK.json's two
workloads): the Spark jobs each query runs while it is built
(construct) and while its plan runs (execute), from
``tools/profile_query.profile_once`` at sf0.001, against the table
below. A query fails when it goes over its entry, e.g. a new hidden
``collect``/``count`` or a schema-inference read; lower an entry when
a change cuts a job.

py4j commands are not pinned. Identical code sent 456-693 construct
commands across 8 reps of ``contamination_rate_indexed`` at sf0.001
(12 construct jobs each time): py4j sends a delete command through
the same channel for every Python proxy of a JVM object that Python
garbage-collects, so the count follows the collector, not the code."""

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

import __spark_entry__ as entrymod  # noqa: E402
from conftest import SF_DIR  # noqa: E402
from profile_query import profile_once  # noqa: E402
from wimbd_spark.index import build_phrase_index  # noqa: E402

#: (construct jobs, execute jobs) per query at sf0.001 on the test
#: session (local[4], 4 shuffle partitions), after one warm build of
#: the query, with the contam index rewritten just before
#: ``contamination_rate_indexed`` as every ``neardup_dedup`` pass does.
#: The ``neardup_dedup`` construct jobs sum to 18 (one per-pass
#: schema-inference job fewer than the 19 of a plain
#: ``spark.read.parquet`` reload of the rebuilt index).
JOB_BUDGET = {
    # wimbd_scan
    "lang_counts": (0, 4),
    "search_regex_counts": (0, 2),
    "corpus_stats": (0, 2),
    "winnow_fingerprints_head": (0, 1),
    "botk_ngrams_n1_k20": (0, 2),
    "unigram_ttf": (0, 2),
    # neardup_dedup
    "lsh_neardup_pairs": (0, 9),
    "neardup_cluster_dedup": (3, 2),
    "dedup_exact_keepfirst": (0, 2),
    "bloom_decontaminate_src0": (3, 1),
    "contamination_rate_indexed": (12, 1),
    # search and index-free decontamination (the token-phrase hit
    # planner's callers; not in a benchmark workload)
    "phrase_doc_counts": (0, 2),
    "phrase_ac_counts": (0, 2),
    "phrase_retrieval_top10": (0, 1),
    "phrase_retrieval_allhits": (0, 1),
    "phrase_slop_count": (0, 2),
    "phrase_count_filtered": (0, 2),
    "phrase_hits_ac": (0, 1),
    "decontaminate_ngrams_src0": (2, 3),
    "decontaminate_ac_src0": (2, 3),
    "decontaminate_slop_hatch_src0": (3, 3),
    "contamination_rate_tokens": (2, 7),
    "contamination_tokens_slop1": (2, 7),
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_benchmarked_query_stays_in_its_job_budget(spark, name):
    query = entrymod.queries()[name]
    query(spark, SF_DIR)  # builds the indexes the query memoizes
    if name == "contamination_rate_indexed":
        build_phrase_index(
            entrymod._docs(spark, SF_DIR).filter("source != 'src0'"),
            entrymod._index_path(SF_DIR, "contam"),
        )
    p = profile_once(spark, query, SF_DIR, f"budget:{name}")
    got = (p["construct_jobs"], p["execute_jobs"])
    budget = JOB_BUDGET[name]
    assert got[0] <= budget[0] and got[1] <= budget[1], (
        f"{name}: (construct, execute) jobs {got} over budget {budget}"
    )
