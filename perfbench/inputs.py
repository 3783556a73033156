"""Seeded benchmark inputs.

Every input is a pure function of (generator version, profile, size,
seed) and is written once into a cache directory inside the checkout,
outside any timed region. The program under test only ever sees the
generated files.
"""

from __future__ import annotations

import os
import random
import shutil

HEAVY_DOCS = 4000      # pdf_heavy: 10-40 page Flate PDFs, 0.5% giants
CRAWL_DOCS = 1000      # crawl_pipeline: every mixed-profile generator
REGISTRY_DOCS = 800    # curation_queries: the registry's sf0.01 corpus size

# documents / embeddings, fitted to the registry's sf0.01 tables as
# measured (layers.json "inputs" has the figures): 500 rows each; text is
# 10-99 tokens (uniform) over the 30-word vocabulary below, and 5% of the
# rows are an earlier row's text plus " dup"; embeddings are 64-d unit
# vectors with no cluster structure (per-label centroids have the norm
# of a mean of ~50 random unit vectors, 0.146) and uniform labels 0-9
TABLE_ROWS = 500
TOKENS = (10, 99)
DUP_SHARE = 0.05
EMBED_DIM = 64
LABELS = 10

# bump when the documents/embeddings generator below changes
TABLES_VERSION = "t2"

_VOCAB = ("a the big small fast slow row column table key value part hash "
          "join merge sort scan filter group order window batch stream "
          "query data vector line agg spark customer").split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _build_once(path: str, build) -> bool:
    """Run build(tmp) and move the result to `path` unless it exists.
    Returns True when it generated."""
    if os.path.exists(path):
        return False
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    return True


def corpus(cache_dir: str, profile: str, n_docs: int, seed: int,
           row_group_size: int = 64) -> tuple[str, bool]:
    """Fixture corpus (url, warc_ts, html, text, lang, ...) written by
    ``zpdfspark.fixtures.write_corpus_parquet``."""
    from zpdfspark.fixtures import CORPUS_VERSION, write_corpus_parquet

    path = os.path.join(
        cache_dir, f"corpus_{CORPUS_VERSION}_{profile}_{n_docs}"
                   f"_rg{row_group_size}_s{seed}.parquet")
    made = _build_once(path, lambda tmp: write_corpus_parquet(
        tmp, n_docs, seed=seed, profile=profile,
        row_group_size=row_group_size))
    return path, made


def _write_tables(dest: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dest)
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    docs = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for i in range(TABLE_ROWS):
        if texts and rng.random() < DUP_SHARE:
            # near-duplicate of an earlier document, for the dedup queries
            text = texts[rng.randrange(len(texts))] + " dup"
        else:
            text = " ".join(rng.choice(_VOCAB)
                            for _ in range(rng.randint(*TOKENS)))
        texts.append(text)
        docs["doc_id"].append(i)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(_LANGS))
        docs["source"].append(f"src{i % 20}")
        docs["n_chars"].append(len(text))
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    }), os.path.join(dest, "documents.parquet"))

    g = np.random.default_rng(seed)
    labels = g.integers(0, LABELS, size=TABLE_ROWS)
    vecs = g.normal(size=(TABLE_ROWS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(TABLE_ROWS), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), os.path.join(dest, "embeddings.parquet"))


def registry_inputs(cache_dir: str, seed: int) -> tuple[str, str, bool]:
    """Inputs of the ``queries()`` registry: an sf directory holding
    ``documents.parquet`` and ``embeddings.parquet`` (fitted to the
    sf0.01 tables, see above) and the mixed-profile corpus at the registry's sf0.01
    size. Returns (sf_dir, corpus_path, generated)."""
    root = os.path.join(cache_dir, f"tables_{TABLES_VERSION}_s{seed}")
    made_tables = _build_once(root, lambda tmp: _write_tables(
        os.path.join(tmp, "sf0.01"), seed))
    # the registry writes its corpus with the default row-group size
    corpus_path, made_corpus = corpus(cache_dir, "mixed", REGISTRY_DOCS,
                                      seed, row_group_size=512)
    return os.path.join(root, "sf0.01"), corpus_path, (made_tables
                                                       or made_corpus)


def read_truth(path: str) -> tuple[list[str], list[str | None]]:
    """(urls, generator texts) of a corpus, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"])
    return t.column("url").to_pylist(), t.column("text").to_pylist()
