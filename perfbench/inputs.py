"""Seeded inputs of the `pipeline` workload.

The tables keep the structure of the engine's document corpus: a
30-word vocabulary drawn uniformly, 10 to 100 words per document, five
languages with English the most common, twenty round-robin sources, and
5% of the documents near-duplicates (another document's text plus one
marker word). Embeddings are unit vectors with one of ten labels. The
same seed gives the same files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
DUP_FRAC = 0.05


def documents(rng, n):
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    dups = rng.choice(n, size=int(n * DUP_FRAC), replace=False)
    dup_set = set(int(d) for d in dups)
    originals = [i for i in range(n) if i not in dup_set]
    for d in dups:
        texts[int(d)] = texts[originals[int(rng.integers(len(originals)))]] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, labels, size=n).astype(np.int32),
                          pa.int32()),
    })


def write_pipeline_inputs(out_dir, seed, n_docs, n_vecs):
    """Writes documents.parquet and embeddings.parquet; returns row counts."""
    rng = np.random.default_rng([seed, 0x6772])
    pq.write_table(documents(rng, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(embeddings(rng, n_vecs), f"{out_dir}/embeddings.parquet")
    return {"documents": n_docs, "embeddings": n_vecs}
