"""Seeded input generator for the benchmark workloads.

Builds the ``documents`` parquet table with numpy and pyarrow only, never with Spark or the package
under test, so a change to the program cannot change its own inputs.
The same (corpus spec, seed) always yields byte-identical files.

The generator is fitted to the driver's sf0.1 fixture corpus, whose
``documents`` table measures (see ``README.md``):

- 5000 documents; ``source`` is ``src<doc_id % 20>``; ``lang`` is
  41% ``en`` and ~15% each ``de``/``es``/``fr``/``zh``;
- 95% of documents are 10-99 tokens (uniform; median 54, ~297 chars)
  drawn uniformly from 30 fixture words (each word ~3.3% of tokens);
- 5% are near duplicates: a copy of another document with the token
  ``dup`` appended. Copies of copies end in ``dup dup``, and two copies
  of one document are exact duplicates (8 pairs in sf0.1);
- snappy-compressed parquet in one row group (0.59 MB on disk for
  1.49 MB of text), ``n_chars`` = ``len(text)``.

Larger corpora are ``copies`` replicas of one such corpus, built as
``tools/make_sf1.py`` builds its sf1 rehearsal: every token of copy
``c > 0`` gets the suffix ``c`` and its ``doc_id`` is shifted by
``c * 1e9``, so duplicate structure stays within a copy and shingle
spaces never overlap across copies.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The fixture vocabulary: every token of the sf0.1 corpus that is not
#: the near-duplicate marker.
FIXTURE_VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast the a"
).split()
DUP_MARKER = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
COPY_ID_OFFSET = 1_000_000_000
MIN_TOKENS, MAX_TOKENS = 10, 99  # per original document, uniform


@dataclasses.dataclass(frozen=True)
class CorpusSpec:
    """Defaults reproduce the sf0.1 fixture corpus's shape."""

    n_docs: int = 5000  # per copy
    copies: int = 1
    near_dup_rate: float = 0.05  # another document plus DUP_MARKER
    exact_dup_rate: float = 0.0  # another document, unchanged


def _base_texts(spec: CorpusSpec, rng: np.random.Generator) -> list[str]:
    vocab = np.array(FIXTURE_VOCAB, dtype=object)
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, spec.n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    # Duplicates overwrite documents in order and may copy a document
    # that is itself a copy, as in the fixture.
    kind = rng.random(spec.n_docs)
    for i in range(spec.n_docs):
        if kind[i] >= spec.near_dup_rate + spec.exact_dup_rate:
            continue
        j = (i + 1 + int(rng.integers(0, spec.n_docs - 1))) % spec.n_docs
        texts[i] = texts[j]
        if kind[i] < spec.near_dup_rate:
            texts[i] += " " + DUP_MARKER
    return texts


def _documents(spec: CorpusSpec, rng: np.random.Generator) -> pa.Table:
    base = _base_texts(spec, rng)
    langs = np.array(LANGS)[rng.choice(len(LANGS), spec.n_docs, p=LANG_P)].tolist()
    doc_id, text = [], []
    for c in range(spec.copies):
        doc_id += range(c * COPY_ID_OFFSET, c * COPY_ID_OFFSET + spec.n_docs)
        if c == 0:
            text += base
        else:
            suffix = f"{c} "
            text += [(t + " ").replace(" ", suffix)[:-1] for t in base]
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(langs * spec.copies, pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(spec.n_docs)] * spec.copies,
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def generate(spec: CorpusSpec, seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` under ``out_dir``; return its sizes."""
    os.makedirs(out_dir, exist_ok=True)
    table = _documents(spec, np.random.default_rng(seed))
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy", row_group_size=table.num_rows)
    return {
        "documents_rows": table.num_rows,
        "documents_bytes": os.path.getsize(path),
        "text_mb": sum(table.column("n_chars").to_pylist()) / 1e6,
    }
