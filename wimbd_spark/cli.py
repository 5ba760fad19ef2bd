"""wimbd-compatible CLI: topk / botk / count / search / stats / unique.

Verb + flag parity with the Rust CLI (src/main.rs:23-82), executed on
Spark. Input paths may be jsonl(.gz) shards/dirs or parquet tables;
results print as JSONL (the reference's output convention,
src/cmd/topk.rs:303-328) or write to --output.

Usage examples (mirroring README.md:48-66 of the reference):
    python -m wimbd_spark.cli topk data/*.json.gz -n 3 -k 20
    python -m wimbd_spark.cli count data/ -s "natural language processing"
    python -m wimbd_spark.cli stats data/ --json
"""

from __future__ import annotations

import argparse
import json
import sys


def _is_parquet(p: str) -> bool:
    import glob
    import os

    if p.endswith(".parquet"):
        return True
    return os.path.isdir(p) and (
        bool(glob.glob(os.path.join(p, "*.parquet")))
        or os.path.exists(os.path.join(p, "_SUCCESS"))
    )


def _load(spark, paths: list[str], limit: int | None, file_limit: int | None):
    from wimbd_spark.corpus import load_jsonl
    from wimbd_spark.session import rebalance_small_input

    if all(_is_parquet(p) for p in paths):
        df = spark.read.parquet(*paths)
        if limit:
            # per-file cap (S4 semantics), same as load_jsonl's
            # line_limit — not a global row cap
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            w = Window.partitionBy(F.input_file_name()).orderBy(
                F.monotonically_increasing_id()
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= limit)
                .drop("_rn")
            )
        return rebalance_small_input(df)
    return rebalance_small_input(
        load_jsonl(
            spark, paths, schema=None, file_limit=file_limit, line_limit=limit
        )
    )


def _emit(rows: list[dict], output: str | None) -> None:
    out = open(output, "w") if output else sys.stdout
    try:
        for r in rows:
            out.write(json.dumps(r, default=str) + "\n")
    finally:
        if output:
            out.close()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wimbd-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("paths", nargs="+")
        sp.add_argument("--limit", "-l", type=int, default=None,
                        help="max lines per file (S4)")
        sp.add_argument("--file-limit", type=int, default=None)
        sp.add_argument("--output", "-o", default=None)
        sp.add_argument("--text-field", default="text")

    for verb, help_ in [
        ("topk", "top-k most frequent n-grams"),
        ("botk", "bottom-k least frequent n-grams"),
    ]:
        sp = sub.add_parser(verb, help=help_)
        common(sp)
        sp.add_argument("-n", "--ngram", type=int, default=3)
        sp.add_argument("-k", "--topk", type=int, default=20)
        sp.add_argument("--threshold", type=int, default=None)
        # reference sketch-sizing flags (src/main.rs:43-57): accepted
        # for drop-in compatibility, ignored — results here are exact
        sp.add_argument("--size", default=None, help=argparse.SUPPRESS)
        sp.add_argument("--hashes", default=None, help=argparse.SUPPRESS)
        sp.add_argument("--seed", default=None, help=argparse.SUPPRESS)
        if verb == "topk":
            sp.add_argument("--two-pass", action="store_true",
                            help="bounded-shuffle heavy-hitter path "
                            "(Misra-Gries summaries + exact recount) — "
                            "for corpora whose distinct-gram space "
                            "outgrows the exact path's shuffle")
            sp.add_argument("--capacity", type=int, default=100_000,
                            help="per-partition summary counters "
                            "(--two-pass)")
            sp.add_argument("--candidate-factor", type=int, default=10,
                            help="recount candidates = factor * k "
                            "(--two-pass)")

    sp = sub.add_parser("count", help="exact token-sequence counts")
    common(sp)
    sp.add_argument("-s", "--sequence", action="append", required=True)

    sp = sub.add_parser("search", help="regex match counts")
    common(sp)
    sp.add_argument("-p", "--pattern", action="append", required=True)
    sp.add_argument("--locations", action="store_true",
                    help="emit one row per occurrence with its exact "
                    "span (≙ wimbd search MatchLocation output)")
    sp.add_argument("--limit-per-pattern", type=int, default=None)
    sp.add_argument("--id-col", default=None,
                    help="known-unique doc id column to key location "
                    "rows by (default: a synthesized per-row id — the "
                    "first data column is NOT assumed unique)")

    sp = sub.add_parser("stats", help="corpus summary stats")
    common(sp)
    sp.add_argument("--json", action="store_true", default=True)
    sp.add_argument("--extremes", action="store_true",
                    help="also emit the docs achieving min/max token "
                    "counts (≙ wimbd stats arg-min/max pointers)")

    sp = sub.add_parser("unique", help="distinct n-gram count")
    common(sp)
    sp.add_argument("-n", "--ngram", type=int, default=1)
    sp.add_argument("--approx", action="store_true",
                    help="HyperLogLog++ instead of exact")

    sp = sub.add_parser(
        "spectrum",
        help="n-gram count spectrum: how many distinct n-grams occur "
        "exactly c times, for every c (Good-Turing N_c / Zipf table)",
    )
    common(sp)
    sp.add_argument("-n", "--ngram", type=int, default=1)

    sp = sub.add_parser(
        "pmi",
        help="top-k bigram collocations by pointwise mutual "
        "information (Church & Hanks)",
    )
    common(sp)
    sp.add_argument("-k", "--topk", type=int, default=20)
    sp.add_argument("--min-count", type=int, default=5,
                    help="minimum bigram count (PMI's low-frequency "
                    "instability gate)")
    sp.add_argument("--rank-by", choices=["pmi", "npmi"], default="pmi",
                    help="npmi = pmi normalized by -ln p(pair) to "
                    "[-1, 1] (Bouma 2009) — corrects raw PMI's "
                    "over-weighting of rare pairs")

    sp = sub.add_parser(
        "zipf",
        help="Zipf power-law fit over the n-gram frequency head: OLS "
        "slope/intercept of ln(count) on ln(rank) (slope near -1 = "
        "natural language)",
    )
    common(sp)
    sp.add_argument("-n", "--ngram", type=int, default=1)
    sp.add_argument("--top", type=int, default=200,
                    help="number of head n-grams to fit")

    sp = sub.add_parser(
        "dedup", help="drop exact-duplicate texts (keep first)"
    )
    common(sp)
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--order-col", default=None,
                    help="column defining 'first' (default: _file or first column)")
    sp.add_argument("--by-url", default=None, metavar="URL_COL",
                    help="dedup on the NORMALIZED url in this column "
                    "(url_normalize: fragments/tracking params/default "
                    "ports/case/trailing slashes canonicalized — the "
                    "C4 URL-dedup convention) instead of the text hash")

    sp = sub.add_parser(
        "decontaminate",
        help="remove docs whose text hash is in a blocklist, or (with "
        "--by-ngrams) docs CONTAINING any blocklist phrase",
    )
    common(sp)
    sp.add_argument("--blocklist", required=True,
                    help="eval-set path (jsonl.gz dir or parquet)")
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--by-ngrams", action="store_true",
                    help="token-aligned containment instead of exact "
                    "text-hash match: drop any doc whose token stream "
                    "contains any blocklist phrase")
    sp.add_argument("--phrase-field", default="text",
                    help="blocklist column holding the phrases "
                    "(--by-ngrams only)")
    sp.add_argument("--id-col", default="doc_id",
                    help="document id column (--by-ngrams only)")
    sp.add_argument("--fuzzy", type=float, default=None, metavar="TAU",
                    help="near-duplicate mode: drop docs whose "
                    "shingle-set Jaccard against any blocklist doc "
                    "reaches TAU (catches lightly-edited leaks)")
    sp.add_argument("--slop", type=int, default=0,
                    help="token-window slack for --by-ngrams matching "
                    "(phrase tokens in order within len+slop tokens)")
    sp.add_argument("--shingle-n", type=int, default=3,
                    help="shingle size for --fuzzy (default 3)")
    sp.add_argument("--method", choices=["auto", "ac", "gram"],
                    default="auto",
                    help="--by-ngrams matcher: 'ac' = one Aho-Corasick "
                    "pass (flat in phrase count; slop=0 only), 'gram' "
                    "= the distributed gram semi-join, 'auto' routes "
                    "by the measured cost multipliers")

    sp = sub.add_parser(
        "despan",
        help="excise CROSS-DOCUMENT shared spans (winnowing-witnessed "
        "boilerplate; Lee et al. 2021): rebuild each doc without the "
        "spans other docs also contain",
    )
    common(sp)
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("-k", type=int, default=3,
                    help="fingerprint gram size")
    sp.add_argument("-w", type=int, default=4,
                    help="winnowing window (guarantee: shared runs of "
                    ">= w+k-1 tokens are witnessed)")
    sp.add_argument("--keep", choices=["none", "first"], default="none",
                    help="'first' leaves the min-id copy of each "
                    "shared span intact; 'none' removes every copy")
    sp.add_argument("--min-docs", type=int, default=2,
                    help="document-frequency bar: only spans whose "
                    "fingerprint appears in >= this many DISTINCT "
                    "docs are removed (precision knob for true "
                    "boilerplate vs a shared quote)")
    sp.add_argument("--report", type=int, default=None, metavar="K",
                    help="triage instead of enforce: print the top-K "
                    "shared fingerprints (n_docs + witnessed snippet) "
                    "that the current --min-docs bar would excise, "
                    "write nothing")

    sp = sub.add_parser(
        "ppl-filter",
        help="CCNet-style perplexity gate: keep docs scoring <= "
        "--max-ppl under a unigram (--order 1, default) or "
        "interpolated bigram (--order 2) LM, self-trained by default",
    )
    common(sp)
    sp.add_argument("--max-ppl", type=float, required=True)
    sp.add_argument("--order", type=int, choices=(1, 2), default=1,
                    help="LM order: 1 = add-alpha unigram, 2 = "
                    "Jelinek-Mercer interpolated bigram (CCNet "
                    "fidelity; backoff mass from the unigram half)")
    sp.add_argument("--lam", type=float, default=0.7,
                    help="order-2 interpolation weight on the bigram "
                    "ML term, in [0, 1)")
    sp.add_argument("--lm", default=None,
                    help="saved model parquet; order 1: a (token, "
                    "logp) table, order 2: a directory holding "
                    "unigram/ and bigram/ tables. Default: train on "
                    "the input corpus itself")
    sp.add_argument("--save-lm", default=None,
                    help="write the trained model here (same layout "
                    "as --lm expects)")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser(
        "url-filter",
        help="drop docs whose URL host is a blocked domain or any "
        "subdomain of one (UT1 blocklist convention)",
    )
    common(sp)
    sp.add_argument("--blocklist", required=True,
                    help="blocked domains: plain text (one domain per "
                    "line, UT1 format) or parquet with a 'domain' column")
    sp.add_argument("--url-field", default="url")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser(
        "quality-filter",
        help="Gopher-rule document gate → kept docs + per-rule drop counts",
    )
    common(sp)
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--rules", choices=["gopher", "c4", "both"],
                    default="gopher",
                    help="rule set: Gopher (Rae et al. 2021 §A1.1), "
                    "C4 (Raffel et al. 2020 §2.2), or both composed "
                    "in one projection pass (keep = passes both)")

    sp = sub.add_parser(
        "span-dedup",
        help="C4 three-sentence span dedup: of every span occurring "
        "more than once corpus-wide only the first survives",
    )
    common(sp)
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--span-sents", type=int, default=3)
    sp.add_argument("--id-col", default="doc_id")

    sp = sub.add_parser(
        "datasheet",
        aliases=["report"],
        help="one-command corpus report: overview, sources, languages, "
        "quality gates, length percentiles, PII — small aggregate rows",
    )
    common(sp)
    sp.add_argument("--sections", default=None,
                    help="comma-separated subset of "
                    "overview,sources,languages,quality,lengths,pii "
                    "(default: all) — sections are independent jobs")
    sp.add_argument("--source-field", default="source",
                    help="per-source section grouping column")

    sp = sub.add_parser(
        "neardup", help="near-duplicate pairs (minhash-LSH or exact jaccard)"
    )
    common(sp)
    sp.add_argument("--method", choices=["minhash", "jaccard"],
                    default="minhash")
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--shingle-n", type=int, default=3)
    sp.add_argument("--id-col", default=None,
                    help="doc id column (default: first column)")
    sp.add_argument("--max-bucket-size", type=int, default=None,
                    help="minhash: LSH bucket cap (default: library "
                    "default, finite); jaccard: max shingle doc-freq "
                    "(default: auto — caps only when the df-sketch "
                    "predicts candidate blowup, warning loudly). "
                    "0 = explicitly uncapped for either method")
    sp.add_argument("--out", default=None, help="output parquet path")
    sp.add_argument("--keep-out", default=None,
                    help="RESOLVE pairs into clusters and write the "
                    "deduplicated corpus (smallest-id representative "
                    "per cluster + all unpaired docs) to this parquet "
                    "path — the end-to-end 'dedup my corpus' verb")
    sp.add_argument("--checkpoint-dir", default=None,
                    help="durable checkpoint dir for the cluster-"
                    "resolution iterations (pass on real clusters; "
                    "default uses executor-local checkpoints)")
    sp.add_argument("--local-edge-limit", type=int, default=None,
                    help="edge count below which cluster resolution "
                    "runs driver-side union-find (default 500k; 0 "
                    "forces the distributed iteration)")

    sp = sub.add_parser(
        "index-build",
        help="build a posting-list phrase index (token→doc positions "
        "parquet) for interactive phrase queries",
    )
    common(sp)
    sp.add_argument("--out", required=True, help="index parquet path")
    sp.add_argument("--id-col", default=None,
                    help="doc id column (default: first column)")
    sp.add_argument(
        "--num-files", type=int, default=None,
        help="posting files to write (default: sized from the data)",
    )
    sp.add_argument("--doclens", action="store_true",
                    help="also build the BM25 _doclens sidecar (done "
                    "lazily by the first ranked query otherwise)")

    sp = sub.add_parser(
        "phrases",
        help="per-phrase document counts; --index answers from a "
        "prebuilt posting-list index without scanning the corpus",
    )
    common(sp)
    sp.add_argument("-s", "--phrase", action="append", required=True)
    sp.add_argument("--slop", type=int, default=0)
    sp.add_argument("--index", default=None,
                    help="posting-list index path (from index-build); "
                    "corpus paths are ignored when given")

    sp = sub.add_parser(
        "bm25",
        help="BM25 ranked retrieval (ES match-query scoring): top-k "
        "documents for a term query; --index answers from a prebuilt "
        "posting-list index (+ its _doclens sidecar) without scanning "
        "the corpus",
    )
    common(sp)
    sp.add_argument("-q", "--query", default=None,
                    help="query string (whitespace-analyzed, like the "
                    "corpus tokenizer)")
    sp.add_argument("--like", default=None, metavar="DOC_ID",
                    help="more_like_this: rank by similarity to this "
                    "document instead of a query string (its top "
                    "TF-IDF terms become the query; anchor excluded)")
    sp.add_argument("--like-terms", type=int, default=5,
                    help="terms to extract from the --like anchor")
    sp.add_argument("-k", "--topk", type=int, default=10)
    sp.add_argument("--k1", type=float, default=1.2)
    sp.add_argument("--b", type=float, default=0.75)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--index", default=None,
                    help="posting-list index path (from index-build); "
                    "corpus paths are ignored when given (except for "
                    "--filter, which reads them for candidate ids)")
    sp.add_argument("--filter", default=None, metavar="SQL_EXPR",
                    help="ES bool.filter: boolean SQL expression over "
                    "corpus columns (e.g. \"source = 'src0'\") — "
                    "restricts candidates, stats stay index-wide")

    sp = sub.add_parser(
        "hybrid",
        help="hybrid sparse+dense search: BM25 for the query fused "
        "with cosine neighbors of a query embedding (RRF)",
    )
    common(sp)
    sp.add_argument("-q", "--query", required=True)
    sp.add_argument("--embeddings", required=True,
                    help="embeddings path (vec_id must match the "
                    "corpus doc ids)")
    sp.add_argument("--vec-id", type=int, required=True,
                    help="query embedding id")
    sp.add_argument("-k", "--topk", type=int, default=10)
    sp.add_argument("--depth", type=int, default=20,
                    help="per-list depth fed into the fusion")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--filter", default=None, metavar="SQL_EXPR",
                    help="ES bool.filter over corpus columns, gating "
                    "candidate generation in BOTH legs")

    sp = sub.add_parser(
        "contamination",
        help="eval-set contamination report: fraction of eval phrases "
        "appearing in the corpus (substring scan, or token-aligned "
        "via a posting index)",
    )
    common(sp)
    sp.add_argument("--eval", required=True, dest="eval_path",
                    help="eval-set path (jsonl/parquet)")
    sp.add_argument("--phrase-field", default="text",
                    help="eval column holding the phrase/text")
    sp.add_argument("--index", default=None,
                    help="posting-list index of the CORPUS (from "
                    "index-build): switches to token-aligned matching "
                    "answered from postings (ES match_phrase "
                    "semantics); without it, substring scan")
    sp.add_argument("--token-aligned", action="store_true",
                    help="index-free token-aligned matching (gram "
                    "scan; required for --slop without --index)")
    sp.add_argument("--slop", type=int, default=0)

    sp = sub.add_parser(
        "pack",
        help="sequence packing: fill fixed token budgets per source "
        "and write training sequences parquet",
    )
    common(sp)
    sp.add_argument("--budget", type=int, required=True,
                    help="token budget per packed sequence")
    sp.add_argument("--group-col", default="source")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser(
        "mix",
        help="source-mixture sampling: per-source weights (<1 "
        "down-sample, >=1 epoch up-sample), deterministic hash gates",
    )
    common(sp)
    sp.add_argument("-w", "--weight", action="append", required=True,
                    metavar="SRC=W",
                    help="e.g. -w web=0.6 -w books=2.5 (repeatable)")
    sp.add_argument("--group-col", default="source")
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument("--keep-unlisted", action="store_true")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser(
        "search-snippets",
        help="keyword-in-context: every regex occurrence with "
        "surrounding characters (the human audit view of search)",
    )
    common(sp)
    sp.add_argument("-p", "--pattern", action="append", required=True)
    sp.add_argument("--window", type=int, default=30,
                    help="context chars each side of the match")
    sp.add_argument("--limit-per-pattern", type=int, default=None)
    sp.add_argument("--id-col", default=None)

    sp = sub.add_parser(
        "stratified-sample",
        help="deterministic per-group sample: exactly K rows per "
        "group by md5-hash rank (balanced eval/inspection sets)",
    )
    common(sp)
    sp.add_argument("-k", "--per-group", type=int, required=True)
    sp.add_argument("--group-col", default="source")
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument("--salt", default="")
    sp.add_argument("--out", required=True, help="output parquet path")

    sp = sub.add_parser(
        "script-profile",
        help="per-doc writing-system profile (script fractions + "
        "dominant script); stdout: corpus counts by main_script",
    )
    common(sp)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", default=None,
                    help="write the full per-doc profile parquet here")

    sp = sub.add_parser(
        "gram-novelty",
        help="cross-doc n-gram novelty per doc (memorization-risk "
        "profile); stdout: summary stats",
    )
    common(sp)
    sp.add_argument("-n", "--ngram", type=int, default=8)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", default=None,
                    help="write the per-doc novelty parquet here")
    sp.add_argument("--max-novelty", type=float, default=None,
                    help="also report docs at or below this novelty "
                    "(near-boilerplate suspects)")

    sp = sub.add_parser(
        "tfidf",
        help="top-k distinctive terms per document (smooth TF-IDF)",
    )
    common(sp)
    sp.add_argument("-k", "--topk", type=int, default=5)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--out", default=None,
                    help="write the per-doc terms parquet here "
                    "(default: emit rows to stdout/--output)")

    sp = sub.add_parser(
        "pii",
        help="PII report: per-kind counts (email/phone/ip, context "
        "rules applied); --out writes per-match rows, --redact-out "
        "writes the scrubbed corpus",
    )
    common(sp)
    sp.add_argument("--kinds", default="email,phone,ip",
                    help="comma-separated subset of email,phone,ip")
    sp.add_argument("--id-col", default=None,
                    help="doc id column for match rows (default: "
                    "first column)")
    sp.add_argument("--out", default=None,
                    help="write per-match rows parquet here")
    sp.add_argument("--redact-out", default=None,
                    help="write the corpus with matches replaced by "
                    "[KIND] placeholders (ALL regex matches — "
                    "redaction skips the context demotion rules; "
                    "over-redacting is the safe direction)")

    sp = sub.add_parser(
        "semdedup",
        help="SemDeDup-style embedding dedup: nearest-centroid "
        "clusters, drop rows with a smaller-id ε-neighbor in-cluster",
    )
    common(sp)
    sp.add_argument("--threshold", type=float, default=0.7)
    sp.add_argument("--n-centroids", type=int, default=None,
                    help="cluster count (default: auto_ncentroids "
                    "sizing from the row count)")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--keep-out", default=None,
                    help="write surviving rows parquet here "
                    "(default: emit the DROP rows)")
    sp.add_argument("--index", default=None,
                    help="persisted IVF index path: the bulk corpus-"
                    "as-queries path (semantic_duplicates_ivf — drop "
                    "rows with a smaller-id ε-neighbor in their "
                    "probed lists; no driver candidate state), built "
                    "here on first use")
    sp.add_argument("--n-probe", type=int, default=4,
                    help="probed lists per vector (--index)")
    sp.add_argument("--n-centroids-index", type=int, default=None,
                    help="centroid count when building --index "
                    "(default auto_ncentroids)")

    sp = sub.add_parser(
        "ann",
        help="top-k cosine neighbors per query vector (exact "
        "broadcast scan, LSH buckets, or IVF probes)",
    )
    common(sp)
    sp.add_argument("--queries", default=None,
                    help="query-vector parquet (default: the corpus "
                    "itself = all-pairs kNN)")
    sp.add_argument("-k", "--topk", type=int, default=3)
    sp.add_argument("--method", choices=["exact", "lsh", "ivf", "pq"],
                    default="exact",
                    help="exact = broadcast scan (small query sets); "
                    "lsh/ivf = the corpus-scale candidate pruners; "
                    "pq = product-quantized asymmetric scoring "
                    "(m-byte codes per corpus vector)")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--index", default=None,
                    help="persisted IVF index path (ivf method only): "
                    "built here on first use (centroid-partitioned "
                    "lists), then queries read only probed partitions "
                    "— build-once/query-many, corpus never rescanned")
    sp.add_argument("--filter", default=None, metavar="SQL_EXPR",
                    help="filtered ANN: boolean SQL expression over "
                    "corpus columns (e.g. \"label = 2\") — exact/lsh/"
                    "ivf/pq pre-filter the corpus (top-k among "
                    "matches); with --index, matching ids become a "
                    "candidates= allowlist inside the probed "
                    "partitions (can return < k when allowed ids "
                    "fall outside the probe set)")
    sp.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspace count (pq method; embedding dim "
                    "must be divisible by it)")
    sp.add_argument("--pq-codes", type=int, default=16,
                    help="PQ codebook entries per subspace (pq method)")
    sp.add_argument("--n-centroids", type=int, default=16,
                    help="centroid count when building --index")
    sp.add_argument("--rerank", type=int, default=None, metavar="N_CAND",
                    help="two-stage refine (ivf --index only, built "
                    "with PQ): PQ scores pick N_CAND candidates per "
                    "query, exact cosine over their full-precision "
                    "vectors decides the final top-k")
    sp.add_argument("--k-fill", action="store_true",
                    help="with --index: escalate n_probe per starved "
                    "query until k neighbors are found or every list "
                    "is probed (fills filtered queries whose "
                    "allowlist falls outside the probe set)")
    sp.add_argument("--bulk", action="store_true",
                    help="with --index: the corpus-as-queries path "
                    "(knn_join — distributed probe join + Arrow "
                    "local top-k, zero driver candidate state; use "
                    "when the query set is corpus-sized); with "
                    "--rerank N, the codes-only two-stage form "
                    "(knn_join_pq; index must be built with PQ)")
    sp.add_argument("--n-probe", type=int, default=4,
                    help="probed lists per query (--bulk)")
    sp.add_argument("--min-cosine", type=float, default=None,
                    help="with --bulk: drop scored pairs below this "
                    "cosine BEFORE the shuffles (near-dup mining)")
    sp.add_argument("--out", default=None,
                    help="write neighbor rows parquet here")

    sp = sub.add_parser(
        "ivf-maintain",
        help="IVF index maintenance: list-size audit, delta-absorb, "
        "skew-triggered recluster",
    )
    sp.add_argument("paths", nargs=1, metavar="INDEX_PATH")
    sp.add_argument("--output", "-o", default=None)
    sp.add_argument("--skew-factor", type=float, default=None,
                    help="needs_recluster trigger: max list > factor "
                    "x mean (default DEFAULT_RECLUSTER_SKEW)")
    sp.add_argument("--absorb-to", default=None, metavar="FRESH_PATH",
                    help="fold the streaming delta tier into a fresh "
                    "single-tier generation at FRESH_PATH")
    sp.add_argument("--recluster-to", default=None, metavar="FRESH_PATH",
                    help="re-fit centroids (k-means over the stored "
                    "vectors, delta included) and rewrite a fresh "
                    "generation at FRESH_PATH")
    sp.add_argument("--n-centroids", type=int, default=None,
                    help="centroid count for --recluster-to (default "
                    "auto_ncentroids of the current row count)")

    sp = sub.add_parser(
        "funnel", help="cleaning-pipeline stage survivor report"
    )
    common(sp)
    sp.add_argument("--min-tokens", type=int, default=5)
    sp.add_argument("--max-tokens", type=int, default=5000)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--by", default=None, metavar="COL",
                    help="per-group breakdown keyed on this column "
                    "(dedup within group)")
    sp.add_argument("--id-col", default=None,
                    help="doc id for the dedup stage's keep-first "
                    "order (default: doc_id if present, else the "
                    "first column)")

    sp = sub.add_parser(
        "dsir",
        help="DSIR importance weights vs a target corpus "
        "(hashed n-gram features)",
    )
    common(sp)
    sp.add_argument("--target", action="append", required=True,
                    help="target-corpus path (repeatable; --limit/"
                    "--file-limit apply to it as well as the pool)")
    sp.add_argument("--buckets", type=int, default=8192)
    sp.add_argument("--id-col", default=None,
                    help="doc id column (default: doc_id if present, "
                    "else the first column)")
    sp.add_argument("--select", type=float, default=None,
                    help="keep this top fraction by weight")
    sp.add_argument("--out", default=None,
                    help="write selected docs parquet here "
                    "(requires --select)")
    sp.add_argument("--show", type=int, default=20,
                    help="weight rows to emit when not selecting")

    sp = sub.add_parser(
        "nb-classify",
        help="Naive-Bayes quality classifier (the GPT-3/CCNet quality-"
        "filter stage): train on a positive corpus vs the pool, score "
        "or filter the pool",
    )
    common(sp)
    sp.add_argument("--pos", action="append", required=True,
                    help="positive (high-quality) corpus path "
                    "(repeatable)")
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument("--max-vocab", type=int, default=8192)
    sp.add_argument("--id-col", default=None,
                    help="doc id column (default: doc_id if present, "
                    "else the first column)")
    sp.add_argument("--threshold", type=float, default=None,
                    help="keep docs scoring >= this (filter mode)")
    sp.add_argument("--out", default=None,
                    help="write kept docs parquet here "
                    "(requires --threshold)")
    sp.add_argument("--show", type=int, default=20,
                    help="score rows to emit when not filtering")

    sp = sub.add_parser(
        "unimax",
        help="UniMax token-budget allocation across sources",
    )
    common(sp)
    sp.add_argument("--budget", type=int, required=True,
                    help="total token budget")
    sp.add_argument("--epochs", type=float, default=1.0,
                    help="max repetitions of any source")
    sp.add_argument("--source-col", default="source")

    sp = sub.add_parser(
        "weighted-sample",
        help="weighted sample without replacement (A-ES, "
        "deterministic hash draw)",
    )
    common(sp)
    sp.add_argument("-k", "--topk", type=int, default=1000,
                    help="rows to draw (per group with --group-col)")
    sp.add_argument("--weight-col", required=True)
    sp.add_argument("--group-col", default=None,
                    help="draw k per group instead of globally")
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument("--salt", default="",
                    help="independent redraw handle")
    sp.add_argument("--out", default=None,
                    help="write sampled rows parquet here")

    sp = sub.add_parser(
        "kmeans",
        help="distributed Lloyd's k-means over an embedding column "
        "(deterministic seeds; map-only assign, bounded update)",
    )
    common(sp)
    sp.add_argument("-k", "--clusters", type=int, default=8)
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--out", default=None,
                    help="write (id, cluster) assignment parquet here")

    sp = sub.add_parser(
        "train-bpe",
        help="train a byte-level BPE tokenizer over the corpus "
        "(writes merges.txt + vocab.json)",
    )
    common(sp)
    sp.add_argument("--vocab-size", type=int, default=8192)
    sp.add_argument("--min-frequency", type=int, default=2)
    sp.add_argument("--max-words", type=int, default=1_000_000,
                    help="word-type table cap (driver memory bound)")
    sp.add_argument("--out", required=True,
                    help="tokenizer asset directory")

    sp = sub.add_parser(
        "ingest",
        help="foreign dataset → canonical parquet corpus "
        "(HF dir: parquet/arrow shards; TFRecord files)",
    )
    sp.add_argument("paths", nargs="+")
    sp.add_argument("--format", choices=["hf", "tfrecord"], required=True)
    sp.add_argument("--split", default="train", help="HF split name")
    sp.add_argument("--text-field", default="text")
    sp.add_argument("--id-field", default=None)
    sp.add_argument("--source", default=None)
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--output", "-o", default=None)

    sp = sub.add_parser(
        "templates",
        help="contamination-template ingest (≙ wimbd "
        "promptsource_parse.py): walk a promptsource checkout for "
        "templates.yaml files and emit (dataset, subset, fields) "
        "rows; with --examples, join the fields against an eval-"
        "example parquet and write the eval-PHRASE table that "
        "`decontaminate` consumes",
    )
    sp.add_argument("paths", nargs=1,
                    help="template tree root (dir containing "
                    "<dataset>[/<subset>]/templates.yaml)")
    sp.add_argument("--all-templates", action="store_true",
                    help="every template per yaml (default: first "
                    "only — reference parity)")
    sp.add_argument("--examples", default=None,
                    help="eval-example parquet whose template-field "
                    "columns hold the phrase values")
    sp.add_argument("--out", default=None,
                    help="phrase-table output parquet (--examples)")
    sp.add_argument("--output", "-o", default=None)

    sp = sub.add_parser(
        "indices",
        help="list the tables of a corpus dir with row counts and "
        "schemas (≙ wimbd es get_indices)",
    )
    sp.add_argument("paths", nargs=1, help="dir of <table>.parquet")
    sp.add_argument("--output", "-o", default=None)

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from wimbd_spark.session import get_spark

    # Only stop the session on exit if we created it — embedding hosts
    # (tests, notebooks) keep theirs alive.
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"wimbd-spark-{args.cmd}")
    try:
        if args.cmd == "ingest":
            from wimbd_spark.corpus import (
                load_hf_dataset,
                load_tfrecords,
                standardize_corpus,
            )

            if args.format == "hf":
                out = load_hf_dataset(
                    spark,
                    args.paths[0],
                    split=args.split,
                    text_field=args.text_field,
                    id_field=args.id_field,
                    source=args.source,
                )
            else:
                out = standardize_corpus(
                    load_tfrecords(spark, args.paths),
                    text_field=args.text_field,
                    id_field=args.id_field,
                    source=args.source or "tfrecord",
                )
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            _emit([{"rows": n, "out": args.out}], args.output)
            return 0
        if args.cmd == "templates":
            from wimbd_spark.sources.templates import (
                load_template_fields,
                template_eval_phrases,
            )

            fields = load_template_fields(
                spark,
                args.paths[0],
                first_template_only=not args.all_templates,
            )
            if args.examples:
                if not args.out:
                    p.error("--examples requires --out")
                ex = spark.read.parquet(args.examples)
                phrases = template_eval_phrases(ex, fields)
                phrases.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                _emit([{"rows": n, "out": args.out}], args.output)
            else:
                _emit(
                    [r.asDict() for r in fields.collect()],
                    args.output,
                )
            return 0
        if args.cmd == "indices":
            from wimbd_spark.session import load_tables, table_summary

            load_tables(spark, args.paths[0])
            _emit(table_summary(spark), args.output)
            return 0
        if args.cmd == "ivf-maintain":
            from pyspark.errors import AnalysisException

            from wimbd_spark.operators.similarity import (
                DEFAULT_ABSORB_FRACTION,
                DEFAULT_RECLUSTER_SKEW,
                _hadoop_exists,
                absorb_ivf_delta,
                ivf_list_sizes,
                recluster_ivf_index,
                skew_triggered,
            )

            idx = args.paths[0]
            if args.absorb_to and args.recluster_to:
                raise SystemExit(
                    "--absorb-to and --recluster-to are exclusive "
                    "(recluster consumes the delta itself)"
                )
            sizes = [
                r["size"] for r in ivf_list_sizes(spark, idx).collect()
            ]
            skew = (
                args.skew_factor
                if args.skew_factor is not None
                else DEFAULT_RECLUSTER_SKEW
            )
            n_cent = spark.read.parquet(f"{idx}/centroids").count()
            # ONE lists scan per run: sum(sizes) already includes the
            # delta tier (_read_lists), so the absorb verdict needs
            # only the (cheap, delta-only) count — never a re-scan
            n_total = sum(sizes)
            n_delta = 0
            if _hadoop_exists(spark, f"{idx}/delta"):
                try:
                    n_delta = spark.read.parquet(
                        f"{idx}/delta"
                    ).count()
                except AnalysisException:
                    n_delta = 0
            report = {
                "n_lists": len(sizes),
                "n_vectors": n_total,
                "max_list": max(sizes, default=0),
                "needs_recluster": skew_triggered(
                    sizes, n_cent, skew_factor=skew
                ),
                "needs_absorb": (
                    n_delta > DEFAULT_ABSORB_FRACTION * n_total
                ),
            }
            if args.absorb_to:
                # mirror the other argument-validation paths: an index
                # with no delta tier is a usage error, not a traceback
                # (r12 ADVICE); an explicit --absorb-to below the
                # needs_absorb bar still runs — the flag is the
                # operator's decision, the report row carries the bar
                if n_delta == 0:
                    raise SystemExit(
                        f"ivf-maintain --absorb-to: no delta tier at "
                        f"{idx!r} — nothing to absorb"
                    )
                absorb_ivf_delta(spark, idx, args.absorb_to)
                report["absorbed_to"] = args.absorb_to
            elif args.recluster_to:
                recluster_ivf_index(
                    spark, idx, args.recluster_to,
                    n_centroids=args.n_centroids,
                )
                report["reclustered_to"] = args.recluster_to
            _emit([report], args.output)
            return 0
        if args.cmd == "bm25" and args.index:
            # indexed ranking never touches the corpus — except
            # --filter, whose metadata columns live only there: the
            # corpus then supplies CANDIDATE ids (ES terms-lookup
            # form), still never the ranked scan itself
            from pyspark.sql import functions as F

            from wimbd_spark.operators.bm25 import (
                bm25_topk_indexed,
                more_like_this_indexed,
            )

            if (args.query is None) == (args.like is None):
                raise SystemExit("bm25 needs exactly one of -q / --like")
            cand = None
            if args.filter:
                cdf = _load(spark, args.paths, args.limit, args.file_limit)
                cand = cdf.where(F.expr(args.filter)).select(
                    F.col(args.id_col).alias("doc_id")
                )
            if args.like is not None:
                if cand is not None:
                    raise SystemExit(
                        "--filter is not supported with --like"
                    )
                anchor = (
                    int(args.like) if args.like.lstrip("-").isdigit()
                    else args.like
                )
                res = more_like_this_indexed(
                    spark, args.index, anchor, k=args.topk,
                    n_terms=args.like_terms, k1=args.k1, b=args.b,
                )
            else:
                res = bm25_topk_indexed(
                    spark, args.index, args.query, k=args.topk,
                    k1=args.k1, b=args.b, candidates=cand,
                )
            _emit([r.asDict() for r in res.collect()], args.output)
            return 0
        if args.cmd == "phrases" and args.index:
            # indexed counts never touch the corpus — skip loading it
            # (the whole point of the index is no corpus scan)
            from wimbd_spark.index import (
                count_documents_for_each_phrase_indexed,
                load_phrase_index,
            )

            idx = load_phrase_index(spark, args.index)
            res = count_documents_for_each_phrase_indexed(
                idx, args.phrase, slop=args.slop
            )
            _emit([r.asDict() for r in res.collect()], args.output)
            return 0
        df = _load(spark, args.paths, args.limit, args.file_limit)
        t = args.text_field
        if args.cmd in ("topk", "botk"):
            from wimbd_spark.operators.topk import botk_ngrams, topk_ngrams

            if args.cmd == "topk" and args.two_pass:
                from wimbd_spark.operators.heavyhitters import (
                    topk_ngrams_2pass,
                )

                res = topk_ngrams_2pass(
                    df,
                    args.ngram,
                    args.topk,
                    capacity=args.capacity,
                    candidate_factor=args.candidate_factor,
                    text_col=t,
                )
            else:
                fn = topk_ngrams if args.cmd == "topk" else botk_ngrams
                kw = {"threshold": args.threshold} if args.cmd == "topk" else {}
                res = fn(df, args.ngram, args.topk, text_col=t, **kw)
            _emit([r.asDict() for r in res.orderBy("rank").collect()], args.output)
        elif args.cmd == "count":
            from wimbd_spark.operators.count import count_sequences

            res = count_sequences(df, args.sequence, text_col=t)
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "search":
            if args.locations:
                from pyspark.sql import functions as F

                from wimbd_spark.operators.count import (
                    search_regex_locations,
                )

                # key rows by an EXPLICIT id column, else by the
                # conventional `doc_id` when present (stable output for
                # existing corpora), else by a synthesized row id —
                # never by "whatever column is first" (a non-unique
                # first column like `source` would make occurrence rows
                # indistinguishable across docs)
                idc = args.id_col or (
                    "doc_id" if "doc_id" in df.columns else None
                )
                if idc:
                    res = search_regex_locations(
                        df,
                        args.pattern,
                        text_col=t,
                        id_cols=(idc,),
                        limit_per_pattern=args.limit_per_pattern,
                    )
                else:
                    res = search_regex_locations(
                        df.withColumn(
                            "_row", F.monotonically_increasing_id()
                        ),
                        args.pattern,
                        text_col=t,
                        id_cols=("_row",),
                        limit_per_pattern=args.limit_per_pattern,
                    )
            else:
                from wimbd_spark.operators.count import (
                    search_regex_counts,
                )

                res = search_regex_counts(df, args.pattern, text_col=t)
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "stats":
            from wimbd_spark.operators.stats import corpus_stats

            row = corpus_stats(df, text_col=t).collect()[0]
            rows = [row.asDict()]
            if args.extremes:
                from pyspark.sql import functions as F

                from wimbd_spark.operators.stats import extreme_token_docs

                src = df
                idc = "doc_id" if "doc_id" in df.columns else None
                if idc is None:
                    src = df.withColumn(
                        "_row", F.monotonically_increasing_id()
                    )
                    idc = "_row"
                for which in ("min", "max"):
                    rows += [
                        {"which": which, **r.asDict()}
                        for r in extreme_token_docs(
                            src, text_col=t, id_cols=(idc,), which=which
                        ).collect()
                    ]
            _emit(rows, args.output)
        elif args.cmd == "unique":
            from wimbd_spark.operators.topk import unique_ngrams

            row = unique_ngrams(
                df, args.ngram, text_col=t, approx=args.approx
            ).collect()[0]
            _emit([row.asDict()], args.output)
        elif args.cmd == "spectrum":
            from wimbd_spark.operators.topk import ngram_count_spectrum

            res = ngram_count_spectrum(df, args.ngram, text_col=t)
            _emit(
                [r.asDict() for r in res.orderBy("occurrences").collect()],
                args.output,
            )
        elif args.cmd == "pmi":
            from wimbd_spark.operators.topk import top_pmi_bigrams

            res = top_pmi_bigrams(
                df, k=args.topk, min_count=args.min_count, text_col=t,
                rank_by=args.rank_by,
            )
            _emit(
                [r.asDict() for r in res.orderBy("rank").collect()],
                args.output,
            )
        elif args.cmd == "zipf":
            from wimbd_spark.operators.topk import zipf_fit

            row = zipf_fit(
                df, n=args.ngram, top=args.top, text_col=t
            ).collect()[0]
            _emit([row.asDict()], args.output)
        elif args.cmd == "dedup":
            from wimbd_spark.operators.dedup import dedup_keep_first

            order = args.order_col or ("_file" if "_file" in df.columns else df.columns[0])
            before = df.count()
            key = None
            if args.by_url:
                from pyspark.sql import functions as F

                from wimbd_spark.functions.text import url_normalize

                key = url_normalize(F.col(args.by_url))
            kept = dedup_keep_first(
                df, text_col=t, order_cols=(order,), key=key
            )
            kept.write.mode("overwrite").parquet(args.out)
            after = spark.read.parquet(args.out).count()
            _emit(
                [{"input": before, "kept": after, "dropped": before - after}],
                args.output,
            )
        elif args.cmd == "decontaminate":
            from wimbd_spark.operators.dedup import (
                decontaminate,
                decontaminate_by_ngrams,
            )

            bl = _load(spark, [args.blocklist], None, None)
            before = df.count()
            if args.fuzzy is not None and args.by_ngrams:
                raise SystemExit(
                    "--fuzzy and --by-ngrams are different semantics "
                    "(doc-level Jaccard vs phrase containment); pick one"
                )
            if args.slop and not args.by_ngrams:
                raise SystemExit(
                    "--slop requires --by-ngrams (token-window "
                    "matching has no exact-hash or Jaccard meaning)"
                )
            if args.fuzzy is not None:
                from pyspark.sql import functions as F

                from wimbd_spark.operators.neardup import fuzzy_decontaminate

                # eval sets need no id column of their own: identity
                # only feeds the distinct on contaminated TRAIN ids
                ev = bl.withColumn(
                    "_eval_id", F.monotonically_increasing_id()
                )
                kept = fuzzy_decontaminate(
                    df,
                    ev,
                    id_col=args.id_col,
                    text_col=t,
                    eval_text_col=args.phrase_field,
                    eval_id_col="_eval_id",
                    shingle_n=args.shingle_n,
                    threshold=args.fuzzy,
                )
            elif args.by_ngrams:
                kept = decontaminate_by_ngrams(
                    df,
                    bl,
                    phrase_col=args.phrase_field,
                    text_col=t,
                    id_col=args.id_col,
                    slop=args.slop,
                    method=args.method,
                )
            else:
                kept = decontaminate(df, bl, text_col=t)
            kept.write.mode("overwrite").parquet(args.out)
            after = spark.read.parquet(args.out).count()
            _emit(
                [{"input": before, "kept": after, "removed": before - after}],
                args.output,
            )
        elif args.cmd == "despan":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.winnow import remove_shared_spans

            if args.report is not None:
                from wimbd_spark.operators.winnow import (
                    shared_span_examples,
                )

                res = shared_span_examples(
                    df, k=args.report, id_col=args.id_col, text_col=t,
                    kgram=args.k, w=args.w, min_docs=args.min_docs,
                )
                _emit([r.asDict() for r in res.collect()], args.output)
                return 0
            before = df.count()
            out = remove_shared_spans(
                df, id_col=args.id_col, text_col=t,
                k=args.k, w=args.w, keep=args.keep,
                min_docs=args.min_docs,
            )
            out.write.mode("overwrite").parquet(args.out)
            written = spark.read.parquet(args.out)
            # modified = docs whose text changed (span surgery applied)
            modified = (
                written.select(args.id_col, F.col(t).alias("_new"))
                .join(df.select(args.id_col, F.col(t).alias("_old")),
                      args.id_col)
                .filter(
                    F.col("_new").isNotNull()
                    & (F.col("_new") != F.col("_old"))
                )
                .count()
            )
            _emit(
                [{"input": before, "modified": modified}],
                args.output,
            )
        elif args.cmd == "ppl-filter":
            from wimbd_spark.operators.lm import (
                bigram_lm,
                bigram_perplexity_filter,
                perplexity_filter,
                unigram_lm,
            )

            before = df.count()
            if args.order == 2:
                # order-2 model layout: <dir>/unigram + <dir>/bigram
                uni = bi = None
                if args.lm:
                    uni = spark.read.parquet(f"{args.lm}/unigram")
                    bi = spark.read.parquet(f"{args.lm}/bigram")
                if args.save_lm:
                    if uni is None:
                        uni = unigram_lm(df, text_col=t)
                        bi = bigram_lm(df, text_col=t)
                    uni.write.mode("overwrite").parquet(
                        f"{args.save_lm}/unigram"
                    )
                    bi.write.mode("overwrite").parquet(
                        f"{args.save_lm}/bigram"
                    )
                    uni = spark.read.parquet(f"{args.save_lm}/unigram")
                    bi = spark.read.parquet(f"{args.save_lm}/bigram")
                kept = bigram_perplexity_filter(
                    df, max_ppl=args.max_ppl, uni=uni, bi=bi,
                    lam=args.lam, id_col=args.id_col, text_col=t,
                )
            else:
                # lm stays None for the self-trained path
                # (materialized only via --save-lm) so
                # perplexity_filter skips the model-validation count
                # that would re-run a lazy build; caller-supplied /
                # reloaded parquet models ARE validated
                lm = spark.read.parquet(args.lm) if args.lm else None
                if args.save_lm:
                    if lm is None:
                        lm = unigram_lm(df, text_col=t)
                    lm.write.mode("overwrite").parquet(args.save_lm)
                    lm = spark.read.parquet(args.save_lm)
                kept = perplexity_filter(
                    df, max_ppl=args.max_ppl, lm=lm,
                    id_col=args.id_col, text_col=t,
                )
            kept.write.mode("overwrite").parquet(args.out)
            after = spark.read.parquet(args.out).count()
            _emit(
                [{"input": before, "kept": after,
                  "removed": before - after, "max_ppl": args.max_ppl,
                  "order": args.order}],
                args.output,
            )
        elif args.cmd == "url-filter":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.urlfilter import (
                filter_by_domain_blocklist,
            )

            if _is_parquet(args.blocklist):
                blocked = spark.read.parquet(args.blocklist)
            else:
                # UT1 plain-text format: one domain per line
                # (lowercased — mixed-case entries must still match
                # the lowercased host side)
                blocked = (
                    spark.read.text(args.blocklist)
                    .select(
                        F.lower(F.trim(F.col("value"))).alias("domain")
                    )
                    .filter(F.col("domain") != "")
                )
            before = df.count()
            kept = filter_by_domain_blocklist(
                df, blocked, id_col=args.id_col, url_col=args.url_field
            )
            kept.write.mode("overwrite").parquet(args.out)
            after = spark.read.parquet(args.out).count()
            _emit(
                [{"input": before, "kept": after,
                  "removed": before - after}],
                args.output,
            )
        elif args.cmd == "quality-filter":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.textqc import (
                c4_quality_filter,
                gopher_quality_filter,
            )

            if args.rules == "gopher":
                flagged = gopher_quality_filter(df, text_col=t)
            elif args.rules == "c4":
                flagged = c4_quality_filter(df, text_col=t)
            else:  # both gates in ONE projection pass: rename the
                # gopher verdict columns, run c4 on the survivors'
                # frame, AND the keeps, concat the reasons
                g = gopher_quality_filter(df, text_col=t).withColumnsRenamed(
                    {"keep": "_gk", "drop_reasons": "_gr"}
                )
                flagged = (
                    c4_quality_filter(g, text_col=t)
                    .withColumn("keep", F.col("keep") & F.col("_gk"))
                    .withColumn(
                        "drop_reasons",
                        F.concat(F.col("_gr"), F.col("drop_reasons")),
                    )
                    .drop("_gk", "_gr")
                )
            flagged.filter("keep").drop("keep", "drop_reasons").write.mode(
                "overwrite"
            ).parquet(args.out)
            reasons = (
                flagged.select(F.explode("drop_reasons").alias("rule"))
                .groupBy("rule")
                .count()
                .orderBy(F.desc("count"))
            )
            kept_n = spark.read.parquet(args.out).count()
            summary = [{"kept": kept_n, "out": args.out}]
            summary += [r.asDict() for r in reasons.collect()]
            _emit(summary, args.output)
        elif args.cmd == "span-dedup":
            from wimbd_spark.operators.textqc import c4_span_dedup

            out = c4_span_dedup(
                df, text_col=t, id_col=args.id_col,
                span_sents=args.span_sents,
            )
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            _emit([{"docs": n, "out": args.out}], args.output)
        elif args.cmd in ("datasheet", "report"):
            from wimbd_spark.operators.report import (
                SECTIONS,
                corpus_datasheet,
            )

            secs = (
                tuple(s.strip() for s in args.sections.split(","))
                if args.sections
                else SECTIONS
            )
            sheets = corpus_datasheet(
                df, text_col=t, source_col=args.source_field,
                sections=secs,
            )
            rows = []
            for sec, sdf in sheets.items():
                for r in sdf.collect():
                    rows.append({"section": sec, **r.asDict()})
            _emit(rows, args.output)
        elif args.cmd == "neardup":
            from wimbd_spark.operators.neardup import (
                minhash_dedup_pairs,
                ngram_jaccard_pairs,
            )

            idc = args.id_col or df.columns[0]
            if args.method == "minhash":
                kw = {}
                if args.max_bucket_size is not None:
                    # None = keep the library's finite default cap
                    kw["max_bucket_size"] = args.max_bucket_size or None
                pairs = minhash_dedup_pairs(
                    df,
                    id_col=idc,
                    text_col=t,
                    shingle_n=args.shingle_n,
                    threshold=args.threshold,
                    **kw,
                )
            else:
                pairs = ngram_jaccard_pairs(
                    df,
                    id_col=idc,
                    text_col=t,
                    shingle_n=args.shingle_n,
                    threshold=args.threshold,
                    # unset → library "auto" df-sketch guard; 0 means
                    # "explicitly uncapped", matching the minhash
                    # branch (a literal freq cap of 0 would drop
                    # every shingle)
                    max_shingle_freq=(
                        "auto"
                        if args.max_bucket_size is None
                        else (args.max_bucket_size or None)
                    ),
                )
            if args.keep_out:
                from wimbd_spark.operators.neardup import (
                    drop_near_duplicates,
                )

                kw2 = {}
                if args.local_edge_limit is not None:
                    kw2["local_edge_limit"] = args.local_edge_limit
                kept = drop_near_duplicates(
                    df, pairs, id_col=idc,
                    checkpoint_dir=args.checkpoint_dir,
                    **kw2,
                )
                kept.write.mode("overwrite").parquet(args.keep_out)
                kept_n = spark.read.parquet(args.keep_out).count()
                total = df.count()
                _emit(
                    [{
                        "kept": kept_n,
                        "dropped": total - kept_n,
                        "out": args.keep_out,
                    }],
                    args.output,
                )
            elif args.out:
                pairs.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                _emit([{"pairs": n, "out": args.out}], args.output)
            else:
                _emit(
                    [r.asDict() for r in pairs.orderBy("id_a", "id_b").collect()],
                    args.output,
                )
        elif args.cmd == "index-build":
            from pyspark.sql import functions as F

            from wimbd_spark.index import build_phrase_index

            idc = args.id_col or df.columns[0]
            if idc == t:
                # text-only corpus: never index the text itself as the
                # doc id (collapses duplicate docs, bloats postings)
                df = df.withColumn(
                    "_row", F.monotonically_increasing_id()
                )
                idc = "_row"
            build_phrase_index(
                df, args.out, id_col=idc, text_col=t,
                num_files=args.num_files,
            )
            n = spark.read.parquet(args.out).count()
            if args.doclens:
                from wimbd_spark.operators.bm25 import build_doclen_stats

                build_doclen_stats(spark, args.out)
            _emit([{"postings": n, "out": args.out}], args.output)
        elif args.cmd == "phrases":
            from wimbd_spark.search import count_documents_for_each_phrase

            res = count_documents_for_each_phrase(
                df, args.phrase, slop=args.slop, text_col=t
            )
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "hybrid":
            from wimbd_spark.operators.fusion import hybrid_search

            from pyspark.sql import functions as F

            emb = _load(spark, [args.embeddings], None, None)
            res = hybrid_search(
                df, emb, args.query, query_vec_id=args.vec_id,
                k=args.topk, depth=args.depth,
                id_col=args.id_col, text_col=t,
                filters=F.expr(args.filter) if args.filter else None,
            )
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "bm25":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.bm25 import bm25_topk, more_like_this

            if (args.query is None) == (args.like is None):
                raise SystemExit("bm25 needs exactly one of -q / --like")
            if args.like is not None:
                if args.filter:
                    raise SystemExit(
                        "--filter is not supported with --like"
                    )
                anchor = (
                    int(args.like) if args.like.lstrip("-").isdigit()
                    else args.like
                )
                res = more_like_this(
                    df, anchor, k=args.topk, n_terms=args.like_terms,
                    k1=args.k1, b=args.b, id_col=args.id_col, text_col=t,
                )
            else:
                res = bm25_topk(
                    df, args.query, k=args.topk, k1=args.k1, b=args.b,
                    id_col=args.id_col, text_col=t,
                    filters=F.expr(args.filter) if args.filter else None,
                )
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "contamination":
            from wimbd_spark.operators.dedup import contamination_report

            eval_df = _load(spark, [args.eval_path], None, None)
            idx = None
            if args.index:
                from wimbd_spark.index import load_phrase_index

                idx = load_phrase_index(spark, args.index)
            res = contamination_report(
                eval_df,
                args.phrase_field,
                corpus=df,
                index=idx,
                slop=args.slop,
                text_col=t,
                token_aligned=args.token_aligned,
            )
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "pack":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.packing import (
                pack_documents,
                pack_stats,
                packed_sequences,
            )

            if args.group_col not in df.columns:
                df = df.withColumn(args.group_col, F.lit("all"))
            packed = pack_documents(
                df,
                args.budget,
                id_col=args.id_col,
                text_col=t,
                group_col=args.group_col,
            )
            seqs = packed_sequences(
                packed, text_col=t, group_col=args.group_col
            )
            seqs.write.mode("overwrite").parquet(args.out)
            stats = pack_stats(packed, group_col=args.group_col).agg(
                F.count(F.lit(1)).alias("packs"),
                F.sum("total_tokens").alias("total_tokens"),
            ).collect()[0]
            packs = stats["packs"] or 0
            total_tokens = stats["total_tokens"] or 0
            _emit(
                [{
                    "packs": packs,
                    "total_tokens": total_tokens,
                    "budget": args.budget,
                    # empty corpus → 0 packs; report 0.0, don't divide
                    "fill_rate": round(
                        total_tokens / (packs * args.budget), 4
                    ) if packs else 0.0,
                    "out": args.out,
                }],
                args.output,
            )
        elif args.cmd == "search-snippets":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.count import search_snippets

            idc = args.id_col or (
                "doc_id" if "doc_id" in df.columns else None
            )
            src = df
            if idc is None:
                src = df.withColumn(
                    "_row", F.monotonically_increasing_id()
                )
                idc = "_row"
            res = search_snippets(
                src,
                args.pattern,
                window=args.window,
                text_col=t,
                id_cols=(idc,),
                limit_per_pattern=args.limit_per_pattern,
            )
            _emit([r.asDict() for r in res.collect()], args.output)
        elif args.cmd == "stratified-sample":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.keycount import stratified_sample

            out_df = stratified_sample(
                df,
                k=args.per_group,
                group_col=args.group_col,
                key=args.key_col,
                salt=args.salt,
            )
            out_df.write.mode("overwrite").parquet(args.out)
            sampled = spark.read.parquet(args.out)
            rows = [
                r.asDict()
                for r in sampled.groupBy(args.group_col)
                .agg(F.count(F.lit(1)).alias("rows"))
                .orderBy(args.group_col)
                .collect()
            ]
            _emit(rows + [{"out": args.out}], args.output)
        elif args.cmd == "script-profile":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.textqc import script_profile

            prof = script_profile(df, id_col=args.id_col, text_col=t)
            if args.out:
                prof.write.mode("overwrite").parquet(args.out)
                prof = spark.read.parquet(args.out)
            rows = [
                r.asDict()
                for r in prof.groupBy("main_script")
                .agg(F.count(F.lit(1)).alias("documents"))
                .orderBy(F.desc("documents"), "main_script")
                .collect()
            ]
            if args.out:
                rows.append({"out": args.out})
            _emit(rows, args.output)
        elif args.cmd == "gram-novelty":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.textqc import gram_novelty

            nov = gram_novelty(
                df, n=args.ngram, id_col=args.id_col, text_col=t
            )
            if args.out:
                nov.write.mode("overwrite").parquet(args.out)
                nov = spark.read.parquet(args.out)
            # one aggregation — the threshold count rides the same
            # pass instead of re-deriving the (unpersisted) novelty
            # plan a second time
            aggs = [
                F.count(F.lit(1)).alias("documents"),
                F.avg("novelty").alias("mean_novelty"),
                F.min("novelty").alias("min_novelty"),
            ]
            if args.max_novelty is not None:
                aggs.append(
                    F.count(
                        F.when(
                            F.col("novelty") <= args.max_novelty, 1
                        )
                    ).alias("at_or_below_max")
                )
            summary = nov.agg(*aggs).collect()[0].asDict()
            if args.max_novelty is not None:
                summary["max_novelty"] = args.max_novelty
            if args.out:
                summary["out"] = args.out
            _emit([summary], args.output)
        elif args.cmd == "tfidf":
            from wimbd_spark.operators.textqc import tfidf_top_terms

            terms = tfidf_top_terms(
                df, k=args.topk, id_col=args.id_col, text_col=t
            )
            if args.out:
                terms.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                _emit([{"rows": n, "out": args.out}], args.output)
            else:
                _emit(
                    [r.asDict() for r in terms.collect()], args.output
                )
        elif args.cmd == "mix":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.keycount import mixture_sample

            weights = {}
            for spec in args.weight:
                src, _, w = spec.partition("=")
                if not _:
                    raise SystemExit(f"bad --weight {spec!r}: want SRC=W")
                weights[src] = float(w)
            out_df = mixture_sample(
                df,
                weights,
                key=args.key_col,
                group_col=args.group_col,
                keep_unlisted=args.keep_unlisted,
            )
            out_df.write.mode("overwrite").parquet(args.out)
            mix = spark.read.parquet(args.out)
            rows = [
                r.asDict()
                for r in mix.groupBy(args.group_col)
                .agg(F.count(F.lit(1)).alias("rows"))
                .orderBy(args.group_col)
                .collect()
            ]
            _emit(rows + [{"out": args.out}], args.output)
        elif args.cmd == "pii":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.pii import extract_pii, redact_pii

            kinds = tuple(
                k.strip() for k in args.kinds.split(",") if k.strip()
            )
            idc = args.id_col or df.columns[0]
            rows_out = []
            matches = extract_pii(
                df, text_col=t, id_cols=(idc,), kinds=kinds
            )
            if args.out:
                matches.write.mode("overwrite").parquet(args.out)
                matches = spark.read.parquet(args.out)
                rows_out.append({"matches_out": args.out})
            if args.redact_out:
                redact_pii(df, text_col=t, kinds=kinds).write.mode(
                    "overwrite"
                ).parquet(args.redact_out)
                rows_out.append({"redact_out": args.redact_out})
            counts = [
                r.asDict()
                for r in matches.groupBy("kind")
                .agg(F.count(F.lit(1)).alias("count"))
                .orderBy("kind")
                .collect()
            ]
            _emit(counts + rows_out, args.output)
        elif args.cmd == "semdedup":
            from wimbd_spark.operators.similarity import (
                drop_semantic_duplicates,
                semantic_duplicates,
            )

            kw = dict(
                threshold=args.threshold,
                id_col=args.id_col,
                vec_col=args.vec_col,
                n_centroids=args.n_centroids,
            )
            if args.index:
                from wimbd_spark.operators.similarity import (
                    _hadoop_exists,
                    build_ivf_index,
                    semantic_duplicates_ivf,
                )

                if not _hadoop_exists(
                    spark, args.index + "/centroids"
                ):
                    from wimbd_spark.operators.similarity import (
                        auto_ncentroids,
                    )

                    n_cent = (
                        args.n_centroids_index
                        if args.n_centroids_index is not None
                        else auto_ncentroids(df.count())
                    )
                    build_ivf_index(
                        df, args.index,
                        id_col=args.id_col, vec_col=args.vec_col,
                        n_centroids=n_cent,
                    )
                drops = semantic_duplicates_ivf(
                    spark, args.index, df,
                    threshold=args.threshold, n_probe=args.n_probe,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
                if args.keep_out:
                    kept = df.join(drops, args.id_col, "left_anti")
                    kept.write.mode("overwrite").parquet(args.keep_out)
                    kept_n = spark.read.parquet(args.keep_out).count()
                    total = df.count()
                    _emit(
                        [{
                            "kept": kept_n,
                            "dropped": total - kept_n,
                            "out": args.keep_out,
                        }],
                        args.output,
                    )
                else:
                    _emit(
                        [
                            r.asDict()
                            for r in drops.orderBy(args.id_col).collect()
                        ],
                        args.output,
                    )
                return 0
            if args.keep_out:
                kept = drop_semantic_duplicates(df, **kw)
                kept.write.mode("overwrite").parquet(args.keep_out)
                kept_n = spark.read.parquet(args.keep_out).count()
                total = df.count()
                _emit(
                    [{
                        "kept": kept_n,
                        "dropped": total - kept_n,
                        "out": args.keep_out,
                    }],
                    args.output,
                )
            else:
                drops = semantic_duplicates(df, **kw)
                _emit(
                    [
                        r.asDict()
                        for r in drops.orderBy(args.id_col).collect()
                    ],
                    args.output,
                )
        elif args.cmd == "ann":
            from wimbd_spark.operators.similarity import (
                cosine_topk,
                cosine_topk_ivf,
                cosine_topk_lsh,
            )

            queries = (
                _load(spark, [args.queries], None, None)
                if args.queries
                else df
            )
            kw = dict(k=args.topk, id_col=args.id_col, vec_col=args.vec_col)
            if args.index and args.method != "ivf":
                raise SystemExit("--index requires --method ivf")
            if args.bulk and not args.index:
                raise SystemExit("--bulk requires --index")
            if args.min_cosine is not None and not args.bulk:
                raise SystemExit("--min-cosine requires --bulk")
            if args.bulk and (args.k_fill or args.filter):
                raise SystemExit(
                    "--bulk composes with neither --k-fill nor "
                    "--filter (those are the interactive small-query "
                    "paths)"
                )
            if args.bulk and args.rerank and args.min_cosine is not None:
                raise SystemExit(
                    "--min-cosine applies to the exact --bulk path "
                    "only (the PQ stage scores approximately)"
                )
            if args.rerank and not args.index:
                raise SystemExit("--rerank requires --index")
            if args.k_fill and not args.index:
                raise SystemExit("--k-fill requires --index")
            if args.k_fill and args.rerank:
                raise SystemExit(
                    "--k-fill with --rerank is not supported (widen "
                    "--rerank N_CAND instead)"
                )
            if args.filter and args.rerank:
                raise SystemExit(
                    "--filter with --rerank is not supported (the "
                    "re-rank stage reads candidate ids from PQ "
                    "scores; filter the output instead)"
                )
            if args.filter and not args.index:
                # pre-filter: exact top-k among matching vectors
                from pyspark.sql import functions as F

                df = df.where(F.expr(args.filter))
            if args.index:
                from wimbd_spark.operators.similarity import (
                    build_ivf_index,
                    cosine_topk_ivf_indexed,
                )

                # probe through the Hadoop FileSystem API, not
                # os.path: for s3a://hdfs:// URIs a local-path check
                # is always False and would silently REBUILD (mode=
                # overwrite) an index a concurrent reader may be using
                # (ADVICE r7)
                jvm = spark._jvm
                hpath = jvm.org.apache.hadoop.fs.Path(
                    args.index + "/centroids"
                )
                fs = hpath.getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
                if not fs.exists(hpath):
                    build_ivf_index(
                        df,
                        args.index,
                        id_col=args.id_col,
                        vec_col=args.vec_col,
                        n_centroids=args.n_centroids,
                        # --rerank needs persisted PQ codes
                        pq_m=args.pq_m if args.rerank else None,
                        pq_codes=args.pq_codes,
                    )
                if args.bulk and args.rerank:
                    # bulk + rerank = the codes-only two-stage path
                    # (stage 1 reads (id, codes, rn2) only; stage 2
                    # re-reads uvec for the surviving candidates via
                    # the join-based id pushdown)
                    from wimbd_spark.operators.similarity import (
                        knn_join_pq,
                    )

                    res = knn_join_pq(
                        spark, args.index, queries,
                        n_candidates=args.rerank,
                        n_probe=args.n_probe, **kw
                    )
                elif args.bulk:
                    from wimbd_spark.operators.similarity import (
                        knn_join,
                    )

                    res = knn_join(
                        spark, args.index, queries,
                        n_probe=args.n_probe,
                        min_cosine=args.min_cosine, **kw
                    )
                elif args.rerank:
                    from wimbd_spark.operators.similarity import (
                        cosine_topk_ivf_pq_rerank,
                    )

                    res = cosine_topk_ivf_pq_rerank(
                        spark, args.index, queries,
                        n_candidates=args.rerank, **kw
                    )
                else:
                    cand = None
                    if args.filter:
                        from pyspark.sql import functions as F

                        cand = df.where(F.expr(args.filter)).select(
                            args.id_col
                        )
                    res = cosine_topk_ivf_indexed(
                        spark, args.index, queries,
                        candidates=cand, k_fill=args.k_fill, **kw
                    )
            elif args.method == "exact":
                res = cosine_topk(df, queries, **kw)
            elif args.method == "lsh":
                # nbits=None → auto_nbits from the corpus count;
                # dim=None → inferred from the first row (a hard-coded
                # dim that mismatches the vectors would collapse every
                # row into bucket 0 = an unpruned cross join)
                res = cosine_topk_lsh(
                    df, queries, nbits=None, dim=None, **kw
                )
            elif args.method == "pq":
                from wimbd_spark.operators.similarity import (
                    cosine_topk_pq,
                )

                res = cosine_topk_pq(
                    df, queries, m=args.pq_m, n_codes=args.pq_codes, **kw
                ).drop("approx_cosine")
            else:
                res = cosine_topk_ivf(
                    df, queries, n_centroids=16, **kw
                )
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                _emit([{"neighbors": n, "out": args.out}], args.output)
            else:
                _emit(
                    [
                        r.asDict()
                        for r in res.orderBy("query_id", "rank").collect()
                    ],
                    args.output,
                )
        elif args.cmd == "funnel":
            from wimbd_spark.operators.funnel import (
                quality_funnel,
                quality_funnel_by,
            )

            id_col = args.id_col or (
                "doc_id" if "doc_id" in df.columns else df.columns[0]
            )
            kw = dict(
                min_tokens=args.min_tokens,
                max_tokens=args.max_tokens,
                lang=args.lang,
                text_col=t,
                id_col=id_col,
            )
            if args.by:
                res = quality_funnel_by(df, group_col=args.by, **kw)
                order = [args.by, "stage"]
            else:
                res = quality_funnel(df, **kw)
                order = ["stage"]
            _emit(
                [r.asDict() for r in res.orderBy(*order).collect()],
                args.output,
            )
        elif args.cmd == "dsir":
            from wimbd_spark.operators.dsir import (
                dsir_log_weights,
                dsir_top_fraction,
            )

            if args.out and args.select is None:
                raise SystemExit("--out requires --select")
            target = _load(spark, args.target, args.limit, args.file_limit)
            id_col = args.id_col or (
                "doc_id" if "doc_id" in df.columns else df.columns[0]
            )
            weights = dsir_log_weights(
                df, target, buckets=args.buckets, text_col=t, id_col=id_col
            )
            if args.select is not None:
                kept = dsir_top_fraction(weights, args.select, id_col=id_col)
                if args.out:
                    selected = df.join(
                        kept.select(id_col), id_col, "left_semi"
                    )
                    selected.write.mode("overwrite").parquet(args.out)
                    n = spark.read.parquet(args.out).count()
                    _emit([{"selected": n, "out": args.out}], args.output)
                else:
                    _emit(
                        [r.asDict() for r in kept.collect()], args.output
                    )
            else:
                from pyspark.sql import functions as F

                top = weights.orderBy(
                    F.col("log_weight").desc(), F.col(id_col).asc()
                ).limit(args.show)
                _emit([r.asDict() for r in top.collect()], args.output)
        elif args.cmd == "nb-classify":
            from pyspark.sql import functions as F

            from wimbd_spark.operators.classifier import (
                fit_nb_classifier,
                nb_quality_filter,
                nb_score,
            )

            if args.out and args.threshold is None:
                raise SystemExit("--out requires --threshold")
            pos = _load(spark, args.pos, args.limit, args.file_limit)
            id_col = args.id_col or (
                "doc_id" if "doc_id" in df.columns else df.columns[0]
            )
            model = fit_nb_classifier(
                pos, df, text_col=t,
                min_count=args.min_count, max_vocab=args.max_vocab,
            )
            if args.threshold is not None:
                kept = nb_quality_filter(
                    df, model, args.threshold,
                    text_col=t, id_col=id_col,
                )
                if args.out:
                    kept.write.mode("overwrite").parquet(args.out)
                    n = spark.read.parquet(args.out).count()
                    _emit([{"kept": n, "out": args.out}], args.output)
                else:
                    _emit(
                        [{"kept": kept.count()}], args.output
                    )
            else:
                top = (
                    nb_score(df, model, text_col=t, id_col=id_col)
                    .orderBy(F.col("score").desc(), F.col(id_col).asc())
                    .limit(args.show)
                )
                _emit([r.asDict() for r in top.collect()], args.output)
        elif args.cmd == "unimax":
            from wimbd_spark.operators.mixture import unimax_allocation

            res = unimax_allocation(
                df,
                budget_tokens=args.budget,
                max_epochs=args.epochs,
                source_col=args.source_col,
                text_col=t,
            )
            _emit(
                [r.asDict() for r in res.orderBy(args.source_col).collect()],
                args.output,
            )
        elif args.cmd == "weighted-sample":
            from wimbd_spark.operators.sampling import (
                weighted_sample,
                weighted_sample_by,
            )

            if args.group_col:
                out_df = weighted_sample_by(
                    df, args.topk, args.weight_col,
                    group_col=args.group_col, key=args.key_col,
                    salt=args.salt,
                )
            else:
                out_df = weighted_sample(
                    df, args.topk, args.weight_col,
                    key=args.key_col, salt=args.salt,
                )
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                _emit([{"rows": n, "out": args.out}], args.output)
            else:
                _emit(
                    [r.asDict() for r in out_df.collect()],
                    args.output,
                )
        elif args.cmd == "kmeans":
            from wimbd_spark.operators.clustering import (
                assign_clusters,
                kmeans_fit,
            )

            cents = kmeans_fit(
                df, n_clusters=args.clusters, n_iter=args.iters,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            assigned = assign_clusters(
                df, cents, id_col=args.id_col, vec_col=args.vec_col
            )
            if args.out:
                assigned.write.mode("overwrite").parquet(args.out)
            from pyspark.sql import functions as F

            sizes = [
                r.asDict()
                for r in assigned.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n_members"))
                .orderBy("cluster")
                .collect()
            ]
            if args.out:
                sizes.append({"out": args.out})
            _emit(sizes, args.output)
        elif args.cmd == "train-bpe":
            from wimbd_spark.functions.bpe_train import (
                save_bpe_assets,
                train_bpe,
            )

            ranks, vocab = train_bpe(
                df,
                vocab_size=args.vocab_size,
                text_col=t,
                min_frequency=args.min_frequency,
                max_words=args.max_words,
            )
            save_bpe_assets(args.out, ranks, vocab)
            _emit(
                [{
                    "vocab_size": len(vocab),
                    "n_merges": len(ranks),
                    "out": args.out,
                }],
                args.output,
            )
        return 0
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
