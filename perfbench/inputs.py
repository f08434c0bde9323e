"""Seeded workload inputs: every file a workload reads is a pure function
of ``--seed`` and is written under the run's own work directory.

The input is a ``documents`` table with the schema and shape of the
testdata ``documents`` table (TESTDATA.md): word soup over a 30-word
vocabulary, 10-100 words, about 5% near-duplicates tagged ``dup``, five
languages, 20 sources, with seeded doc_ids and row order. ``curate_v3``
reads it whole; ``extract_rounds`` reads 100-row slices of it.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_DOC_LANGS = ("en", "zh", "es", "fr", "de")
_DOC_LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)


def make_documents(seed: int, n_docs: int) -> pa.Table:
    """A testdata-shaped ``documents`` table; one row group when written."""
    rng = random.Random(seed)
    n_dup = n_docs // 20
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs - n_dup)]
    for _ in range(n_dup):
        words = rng.choice(texts[:n_docs - n_dup]).split()
        if rng.random() < 0.5:
            words = words[1:]
        texts.append(" ".join(words + ["dup"]))
    ids = rng.sample(range(1, 1 << 40), n_docs)
    order = list(range(n_docs))
    rng.shuffle(order)
    langs = rng.choices(_DOC_LANGS, _DOC_LANG_WEIGHTS, k=n_docs)
    return pa.table({
        "doc_id": [ids[k] for k in order],
        "text": [texts[k] for k in order],
        "lang": [langs[k] for k in order],
        "source": [f"src{k % 20}" for k in order],
        "n_chars": [len(texts[k]) for k in order],
    }, schema=DOCUMENTS_SCHEMA)


def write_documents(sf_dir: str, table: pa.Table) -> None:
    """``<sf_dir>/documents.parquet``, readable by ``read_testdata``."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"),
                   row_group_size=table.num_rows)


def write_slices(slice_dir: str, table: pa.Table, rows: int) -> list[str]:
    """Consecutive ``rows``-row slices of ``table``, one file each."""
    os.makedirs(slice_dir, exist_ok=True)
    paths = []
    for k in range(table.num_rows // rows):
        path = os.path.join(slice_dir, f"slice-{k:04d}.parquet")
        pq.write_table(table.slice(k * rows, rows), path)
        paths.append(path)
    return paths
