"""The benchmark's workloads: which declared queries each runs, the
module each query mainly calls (its layer tag), the indexes it rebuilds
beside its reads, and the corpus each is run on.

Queries are names from ``__spark_entry__.queries()``; each is checked
against its own ``oracle_sql()`` entry. Module tags name the package
module that does the query's main work, so per-layer figures can be
summed per module. ``builds`` names indexes (see ``run.INDEX_DOCS``)
that every timed pass rewrites before its queries run, at the path the
declared queries read them from. Why each workload was chosen is
recorded beside its name in ``BENCHMARK.json``.
"""

from __future__ import annotations

import dataclasses

from gen import CorpusSpec


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    corpus: CorpusSpec
    queries: dict[str, str]  # query name -> module tag
    nominal_pass_s: float  # one pass at the time the workload was defined
    builds: tuple[str, ...] = ()


# Six operations per pass each, every one run once per pass.
WIMBD_SCAN = Workload(
    name="wimbd_scan",
    # 4 x sf0.1: 20000 docs, ~6.8 MB of text, 2.4 MB of parquet, past
    # the package's 2 MiB ARROW_TEXT_MIN_BYTES gate, so the
    # size-routed winnow_fingerprints takes its Arrow engine here, while
    # the size-routed shingle tables of neardup_dedup take their
    # expression engine.
    corpus=CorpusSpec(copies=4),
    # Five queries of ~0.2-0.6 s and one of ~1.1 s; search is
    # represented by unigram_ttf, as phrase_doc_counts (~1.8 s) and
    # phrase_ac_counts (~1.4 s, ~4 s cold) would push a run past the
    # time the benchmark may take.
    queries={
        "lang_counts": "operators.keycount",
        "search_regex_counts": "operators.count",
        "corpus_stats": "operators.stats",
        "winnow_fingerprints_head": "operators.winnow",
        "botk_ngrams_n1_k20": "operators.topk",
        "unigram_ttf": "search",
    },
    nominal_pass_s=4.0,
)

NEARDUP_DEDUP = Workload(
    name="neardup_dedup",
    # neardup_cluster_dedup's oracle joins all document pairs and then
    # resolves components with a recursive CTE in DuckDB, so oracle time
    # grows with docs^2 x tokens: ~10 s of one DuckDB thread at 300
    # docs, ~30 s at the fixture's 500. Duplicates are planted at three
    # times the fixture's rate so the dedup queries have true positives.
    corpus=CorpusSpec(n_docs=300, exact_dup_rate=0.05, near_dup_rate=0.10),
    queries={
        "lsh_neardup_pairs": "operators.neardup",
        "neardup_cluster_dedup": "operators.neardup",
        "dedup_exact_keepfirst": "operators.dedup",
        "bloom_decontaminate_src0": "operators.bloom",
        # reads the contam index that each pass rebuilds first
        "contamination_rate_indexed": "index",
    },
    builds=("contam",),
    nominal_pass_s=5.5,
)

WORKLOADS = {w.name: w for w in (WIMBD_SCAN, NEARDUP_DEDUP)}
