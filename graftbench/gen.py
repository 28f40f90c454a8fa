"""Seeded input generator for the graft benchmark.

The benchmark reads no data from outside its checkout, so it makes its own
corpus. `base_tables` builds the two tables the workloads read, with the
column layout and value distributions of the graft test corpus: documents
drawn from a 30-word vocabulary with 5% near-copies, and unit-norm 64-d
embeddings. The base is built from a FIXED seed, so the amount of work a
workload does does not depend on `--seed`.

`twin` then applies the `graft.ReplicateSf` transforms to make a K-replica
twin: replica 0 verbatim, every other replica's words suffixed and its
embeddings rotated, ids shifted by 1e7 per replica. `--seed` picks only
the suffix tokens, the rotation offsets and the row order; never the sizes.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SHIFT = 10_000_000
DIM = 64


def base_tables(n_docs, n_vecs):
    """The replica-0 corpus, as pyarrow tables keyed by table name."""
    rng = np.random.default_rng(BASE_SEED)
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    # 5% near-copies (an earlier doc plus a trailing "dup" token) and a few
    # exact copies, as in the test corpus: the dedup operators find work.
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def _shift(tbl, cols, off):
    for c in cols:
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, pa.array(tbl.column(c).to_numpy() + off))
    return tbl


def replica(base, r, suffix, rot):
    """Replica r of every table (ReplicateSf's transforms)."""
    off = r * SHIFT
    docs = _shift(base["documents"], ["doc_id"], off)
    if r:
        text = [" ".join(w + suffix for w in t.split(" ")) for t in docs.column("text").to_pylist()]
        docs = docs.set_column(1, "text", pa.array(text))
        docs = docs.set_column(4, "n_chars", pa.array([len(t) for t in text], pa.int64()))
    emb = _shift(base["embeddings"], ["vec_id"], off)
    if rot:
        v = np.asarray(emb.column("embedding").combine_chunks().flatten()).reshape(-1, DIM)
        v = np.roll(v, -rot, axis=1)
        emb = emb.set_column(1, "embedding", pa.FixedSizeListArray.from_arrays(
            v.ravel(), DIM).cast(pa.list_(pa.float32())))
    return {"documents": docs, "embeddings": emb}


def twin(out_dir, seed, replicas, sizes):
    """Write a `replicas`-fold twin of the base corpus under out_dir: each
    table is a directory holding one shuffled part file per replica, so
    Spark reads one split per replica. Returns {table: rows}.
    """
    rng = np.random.default_rng(seed)
    base = base_tables(*sizes)
    letters = np.array(list(string.ascii_lowercase))
    suffixes = set()
    while len(suffixes) < replicas:
        suffixes.add("".join(rng.choice(letters, 3)))
    suffixes = sorted(suffixes)
    # distinct non-zero rotations keep every replica's vectors decorrelated
    rots = [0] + list(rng.choice(np.arange(1, DIM), replicas - 1, replace=False))
    parts = [replica(base, r, suffixes[r], int(rots[r])) for r in range(replicas)]
    rows = {}
    os.makedirs(out_dir, exist_ok=True)
    for name in base:
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path)
        for r, p in enumerate(parts):
            t = p[name]
            pq.write_table(t.take(rng.permutation(t.num_rows)),
                           os.path.join(path, f"part-{r:05d}.parquet"))
        rows[name] = sum(p[name].num_rows for p in parts)
    return rows
