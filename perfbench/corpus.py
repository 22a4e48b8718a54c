"""Seeded document corpus for the dedup workload and its DuckDB oracle.

The corpus has the shape of the ``documents`` test table the dedup
queries read (``doc_id, text, lang, source, n_chars``): random text over
the same 31-word vocabulary, 10-100 tokens per document, 0.2% exact
duplicates and 5% near-duplicates (an earlier document with one token
appended). Expected results come from ``registry.ORACLE`` run by DuckDB
over the generated file, through ``testing.duckdb_connect``.

Two of the oracles (``dedup_clusters``, ``graph_pagerank_dupes``) join
golden MinHash pairs that
``scripts/gen_dedup_goldens.py`` derives by a pure-Python path, keyed by
the corpus. The committed goldens cover only the fixed test corpora, so
the same generator derives the pairs of the seeded corpus here, and the
oracle reads them in place of the committed file.
"""

from __future__ import annotations

import importlib.util
import os
import pickle

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 1000
#: the priming corpus: the same queries on it warm every code path first
PRIME_DOCS = 60
QUERIES = ("dedup_lifecycle_probe", "dedup_clusters", "graph_pagerank_dupes")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def make_documents(seed: int, n: int = N_DOCS) -> pa.Table:
    rng = np.random.default_rng([seed, 99])
    words = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    # duplicates at fixed positions, so every seed plants the same number
    for i in range(n):
        if i % 20 == 19:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 500 == 499:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _golden_generator():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("gen_dedup_goldens", os.path.join(root, "scripts", "gen_dedup_goldens.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_corpus(sf_dir: str, seed: int) -> None:
    """Write ``documents.parquet``, its golden MinHash pairs, and pickle
    each query's oracle frame."""
    from overturelink_data_pipeline_spark import registry
    from overturelink_data_pipeline_spark.operators import dedup
    from overturelink_data_pipeline_spark.testing import duckdb_connect

    os.makedirs(os.path.join(sf_dir, "prime"), exist_ok=True)
    pq.write_table(make_documents(seed), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(make_documents(seed + 1, PRIME_DOCS), os.path.join(sf_dir, "prime", "documents.parquet"))
    gen = _golden_generator()
    corpus_key, rows = gen.load_corpus(sf_dir)
    pairs, _ = gen.minhash_pairs(rows)
    golden = os.path.join(sf_dir, "minhash_pairs.parquet")
    pq.write_table(
        pa.table(
            {
                "corpus_key": pa.array([corpus_key] * len(pairs), pa.int64()),
                "id_a": pa.array([a for a, _ in pairs], pa.int64()),
                "id_b": pa.array([b for _, b in pairs], pa.int64()),
            }
        ),
        golden,
    )
    registry.load_all()
    con = duckdb_connect(sf_dir)
    expected = {q: con.sql(registry.ORACLE[q].replace(dedup._MH_GOLD, golden)).df() for q in QUERIES}
    con.close()
    with open(os.path.join(sf_dir, "oracle.pkl"), "wb") as f:
        pickle.dump(expected, f)


def load_oracle(sf_dir: str) -> dict:
    """The oracle frames this benchmark pickled for ``sf_dir``."""
    with open(os.path.join(sf_dir, "oracle.pkl"), "rb") as f:
        return pickle.load(f)
