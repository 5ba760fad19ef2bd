"""Generator determinism, the tail-percentile rule and workload names."""

import hashlib

import pyarrow.parquet as pq

import gen
from run import tail_latency
from workloads import WORKLOADS

TINY = gen.CorpusSpec(n_docs=200, exact_dup_rate=0.1, near_dup_rate=0.1)


def _digest(d):
    return hashlib.sha256((d / "documents.parquet").read_bytes()).hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate(TINY, 7, str(tmp_path / "a"))
    b = gen.generate(TINY, 7, str(tmp_path / "b"))
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_other_seed_other_rows(tmp_path):
    gen.generate(TINY, 7, str(tmp_path / "a"))
    gen.generate(TINY, 8, str(tmp_path / "b"))
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_documents_shape_and_planted_duplicates(tmp_path):
    sizes = gen.generate(TINY, 3, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert sizes["documents_rows"] == len(docs) == 200
    assert sizes["text_mb"] == sum(len(d["text"]) for d in docs) / 1e6
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    assert [d["doc_id"] for d in docs] == list(range(200))
    texts = [d["text"] for d in docs]
    exact = len(texts) - len(set(texts))
    assert 5 <= exact <= 40  # 10% planted exact copies
    assert sum(t.endswith(" dup") for t in texts) >= 10  # 10% near copies
    # fixture words the declared queries' phrases name are present
    words = {w for t in texts for w in t.split()}
    assert {"table", "scan", "merge", "the"} <= words


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples, shuffled below
    value, pct, n = tail_latency(xs[::-1])
    assert n == 40
    assert value == 30.0  # exactly ten samples (31..40) above it
    assert pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_tail_needs_more_samples_than_beyond():
    assert tail_latency([1.0] * 11) == (1.0, 100.0 / 11, 11)
    assert tail_latency([1.0] * 10) == (None, None, 10)


def test_workload_queries_resolve_and_have_oracles():
    import __spark_entry__ as entrymod

    declared = set(entrymod.queries()) | set(entrymod.bench_only_queries())
    oracles = entrymod.oracle_sql()
    for w in WORKLOADS.values():
        for q in w.queries:
            assert q in declared, (w.name, q)
            assert q in oracles, (w.name, q)


def test_copies_get_token_suffixes_and_shifted_ids(tmp_path):
    spec = gen.CorpusSpec(n_docs=50, copies=3)
    gen.generate(spec, 5, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert len(docs) == 150
    for c in (1, 2):
        for base, copy in zip(docs[:50], docs[50 * c : 50 * (c + 1)]):
            assert copy["doc_id"] == base["doc_id"] + c * gen.COPY_ID_OFFSET
            assert copy["text"].split() == [w + str(c) for w in base["text"].split()]
            assert (copy["lang"], copy["source"]) == (base["lang"], base["source"])
            assert copy["n_chars"] == len(copy["text"])
