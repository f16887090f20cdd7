"""Seeded inputs for the three workloads, built on the repo's testdata.

perfbench/data holds unmodified copies of testdata tables (checksums in
perfbench/data/SHA256SUMS): the sf0.01 star schema and documents, and
the 2,000 sf0.1 embedding vectors. Each generator writes one
workload's inputs under a fresh directory, or points at the copies as
they are, and returns their shapes. The same seed gives the
same bytes; `digest` hashes what the workload reads, so two sides of a
comparison can show they read identical inputs. Only numpy, pyarrow
and the standard library are used.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF001 = os.path.join(DATA, "sf0.01")

# ---- corpus_clean -----------------------------------------------------------

CORPUS_VARIANTS = 4


def corpus(seed, dest):
    """2k-document JSONL corpus: the 500 sf0.01 testdata documents x 4
    variants, built the way tools/gen_sf1.py builds bench_sf1 (copies
    with shifted ids and a per-copy perturbation).

    Variant 0 is the testdata document; the seed picks each other
    variant's perturbation (gen_sf1's appended `copyvariant<i>` marker,
    one or two replaced words, one dropped word, half the words
    replaced, or an exact copy) and the row order. Replacement words
    come from the testdata vocabulary."""
    rng = np.random.default_rng([seed, 1])
    docs = pq.read_table(os.path.join(SF001, "documents.parquet"),
                         columns=["doc_id", "text", "source"]).to_pylist()
    vocab = sorted({w for d in docs for w in d["text"].split(" ")})
    rows = []
    for d in docs:
        words = d["text"].split(" ")
        for v in range(CORPUS_VARIANTS):
            w = list(words)
            kind = 0 if v == 0 else int(rng.integers(0, 6))
            if kind == 1:
                w.append(f"copyvariant{v}")
            elif kind == 2:
                for _ in range(int(rng.integers(1, 3))):
                    w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
            elif kind == 3 and len(w) > 1:
                del w[int(rng.integers(len(w)))]
            elif kind == 4:
                for i in range(len(w)):
                    if rng.random() < 0.5:
                        w[i] = vocab[int(rng.integers(len(vocab)))]
            # kind 0 and 5: an exact copy
            rows.append({"doc_id": d["doc_id"] + v * 100_000_000, "text": " ".join(w),
                         "source": d["source"]})
    order = rng.permutation(len(rows))
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, "corpus.jsonl"), "w") as f:
        for i in order:
            f.write(json.dumps(rows[i]) + "\n")
    return dest, {"docs": len(rows), "base_docs": len(docs), "variants": CORPUS_VARIANTS}


# ---- retrieval --------------------------------------------------------------

EMB_COPIES = 5
EMB_JITTER = 0.02  # per coordinate; the testdata vectors are unit-norm, 0.125 per coordinate


def retrieval(seed, dest):
    """10k x 64 float embeddings: 5 jittered copies of each of the
    2,000 sf0.1 testdata vectors, so every vector (the query vectors
    vec_id <= 5 included) has 4 true near neighbours. The seed picks
    the jitter and which copy gets which id; labels are the testdata's."""
    rng = np.random.default_rng([seed, 2])
    base = pq.read_table(os.path.join(DATA, "sf0.1", "embeddings.parquet"))
    vecs = np.array(base.column("embedding").to_pylist(), dtype=np.float64)
    labels = base.column("label").to_numpy()
    n = len(vecs) * EMB_COPIES
    src = rng.permutation(np.arange(n) % len(vecs))
    out = (vecs[src] + rng.normal(0.0, EMB_JITTER, size=(n, vecs.shape[1]))).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(out), type=pa.list_(pa.float32())),
        "label": pa.array(labels[src].astype(np.int32)),
    })
    os.makedirs(os.path.join(dest, "emb"), exist_ok=True)
    pq.write_table(table, os.path.join(dest, "emb", "embeddings.parquet"))
    return os.path.join(dest, "emb"), {"rows": n, "dim": int(vecs.shape[1]),
                                       "base_vectors": len(vecs)}


# ---- analytics --------------------------------------------------------------

def analytics(seed, dest):
    """The sf0.01 testdata tables as they are; the seed only sets the
    order the harness runs the queries in."""
    tables = sorted(f for f in os.listdir(SF001) if f.endswith(".parquet"))
    return SF001, {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(SF001, f)).metadata.num_rows
                   for f in tables}


GENERATORS = {"corpus_clean": corpus, "retrieval": retrieval, "analytics": analytics}


def digest(path):
    """sha256 over every file's relative path and bytes under `path`."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make(workload, seed, dest):
    """Generate a workload's inputs under `dest`; return the directory
    the harness reads and its shapes + digest."""
    in_dir, shapes = GENERATORS[workload](seed, dest)
    return in_dir, {"workload": workload, "seed": seed, "shapes": shapes,
                    "digest": digest(in_dir)}
