"""Seeded input generator for the benchmark.

Every input is a derived copy of the sf0.1 corpus kept in `data/` (the
ten tables BASELINE.md measures, byte-identical to the fixture they were
copied from). The corpus is never modified; the run seed decides what
differs between runs:

  olap    row order of every table and where each table is cut into its
          two files (the query order of each pass is shuffled from the
          same seed in `src/PerfBench.scala`), plus the ANN phase's
          inputs: seeded noisy copies of the sf0.1 embeddings as a base
          corpus, growth files streamed in one micro-batch each, and a
          query set;
  curate  near-duplicate, contamination and source-mix mutations of
          the 5 000 sf0.1 documents, and their row order.

Usage: python3 gen.py <olap|curate> <seed> <outDir>   (prints sizes as JSON)
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# ANN phase: every sf0.1 embedding gets COPIES noisy copies; the first
# BASE_COPIES of them form the indexed base, the rest arrive as
# GROWTH_FILES streamed micro-batches. QUERIES noisy copies of seeded
# originals are probed in batches of 10.
COPIES, BASE_COPIES, GROWTH_FILES, QUERIES, NOISE = 10, 8, 3, 30, 0.1


def read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _permute(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _write_split(rng, table, path):
    """Write `table` as a two-file parquet directory, cut at a seeded point
    between 40 % and 60 % of its rows."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    cut = int(n * rng.uniform(0.4, 0.6)) if n > 1 else n
    for i, (lo, hi) in enumerate(((0, cut), (cut, n))):
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i}.parquet")


def _vectors(ids, m):
    flat = pa.array(m.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids.astype(np.int64)),
                     "embedding": pa.ListArray.from_arrays(offsets, flat)})


def gen_ann(rng, out):
    """Noisy copies of the sf0.1 embeddings: copy c of vector i has id
    c * n + i. Queries are copies of seeded originals with ids past the
    corpus, so the probe's self-match filter never drops a true
    neighbour."""
    emb = read("embeddings")
    base = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    n = len(base)
    ids = np.arange(COPIES * n).reshape(COPIES, n)
    copies = base[None, :, :] + NOISE * rng.standard_normal((COPIES,) + base.shape)
    os.makedirs(f"{out}/ann/growth", exist_ok=True)
    pq.write_table(_vectors(ids[:BASE_COPIES].ravel(),
                            copies[:BASE_COPIES].reshape(-1, base.shape[1])),
                   f"{out}/ann/base.parquet")
    grow_ids = ids[BASE_COPIES:].ravel()
    grow = copies[BASE_COPIES:].reshape(-1, base.shape[1])
    order = rng.permutation(len(grow_ids))
    for i, part in enumerate(np.array_split(order, GROWTH_FILES)):
        pq.write_table(_vectors(grow_ids[part], grow[part]),
                       f"{out}/ann/growth/part-{i}.parquet")
    picks = rng.choice(n, QUERIES, replace=False)
    q = base[picks] + NOISE * rng.standard_normal((QUERIES, base.shape[1]))
    pq.write_table(_vectors(COPIES * n + np.arange(QUERIES), q), f"{out}/ann/queries.parquet")
    return {"ann_base": int(ids[:BASE_COPIES].size), "ann_growth": int(grow_ids.size),
            "ann_queries": QUERIES}


def gen_olap(seed, out):
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in TABLES:
        table = read(name)
        _write_split(rng, _permute(rng, table), f"{out}/{name}.parquet")
        sizes[name] = table.num_rows
    sizes.update(gen_ann(rng, out))
    return sizes


def gen_curate(seed, out):
    """The sf0.1 documents with seeded mutations: near-duplicates (a copy
    of another doc with a few tokens replaced from the corpus vocabulary),
    contamination (a long verbatim run of a held-out benchmark doc, i.e.
    doc_id % 7 == 0, as the pipeline's decontamination stages define
    them, spliced into another doc), and a skewed source mix."""
    docs = read("documents")
    n_docs = docs.num_rows
    base = docs.to_pydict()
    rng = np.random.default_rng(seed)
    text, src, doc_id = base["text"], base["source"], base["doc_id"]
    vocab = sorted({w for t in text for w in t.split(" ")})
    sources = sorted(set(src))
    ids = rng.permutation(n_docs)
    k = n_docs // 10
    for i in ids[:k]:                                   # near-duplicates
        toks = text[int(rng.integers(0, n_docs))].split(" ")
        for j in rng.integers(0, len(toks), 2):
            toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        text[i] = " ".join(toks)
    bench = [i for i in range(n_docs) if doc_id[i] % 7 == 0]
    for i in ids[k:2 * k]:                              # contamination
        if doc_id[i] % 7 == 0:
            continue
        leak = text[bench[int(rng.integers(0, len(bench)))]].split(" ")[:12]
        text[i] = " ".join(leak + text[i].split(" ")[:40])
    hot = [sources[s] for s in rng.choice(len(sources), 3, replace=False)]
    for i in ids[2 * k:3 * k]:                          # source-mix skew
        src[i] = hot[int(rng.integers(0, 3))]
    mutated = pa.table({
        "doc_id": docs.column("doc_id"), "text": text, "lang": docs.column("lang"),
        "source": src,
        "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64))},
        schema=docs.schema)
    pq.write_table(_permute(rng, mutated), f"{out}/documents.parquet")
    return {"documents": n_docs, "near_dups": k, "contaminated": k, "resourced": k}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "olap":
        return gen_olap(seed, out)
    if workload == "curate":
        return gen_curate(seed, out)
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
