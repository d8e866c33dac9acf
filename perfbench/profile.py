#!/usr/bin/env python3
"""Side-by-side profile of input directories, to compare the generated
inputs with the sf tables they stand in for.

    python3 perfbench/profile.py <sf dir> <generated dir> ...

For every directory it prints the row count of each table and, for the
documents and embeddings, the figures gen.py is built to reproduce: words
per document, vocabulary, language shares, multibyte share, near-duplicate
and exact-duplicate shares, how sources are assigned, vector width and
norm, labels, and how far the per-label centroids are from zero (cluster
structure).
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def profile(d):
    p = {}
    for t in TABLES:
        p[f"{t} rows"] = pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas().sort_values("doc_id")
    texts = docs.text.tolist()
    words = [t.split(" ") for t in texts]
    lens = np.array([len(w) for w in words])
    vocab = {x for w in words for x in w}
    n = len(texts)
    p["doc words p10/p50/p90"] = "/".join(str(int(x)) for x in np.percentile(lens, [10, 50, 90]))
    p["doc words min-max"] = f"{lens.min()}-{lens.max()}"
    p["vocabulary"] = len(vocab)
    p["multibyte docs %"] = round(100 * sum(any(ord(c) > 127 for c in t) for t in texts) / n, 2)
    dups = [t[:-4] for t in texts if t.endswith(" dup")]
    present = set(texts)
    p["' dup'-suffixed docs %"] = round(100 * len(dups) / n, 2)
    p["' dup' rows whose stem is a row %"] = round(100 * sum(t in present for t in dups) / max(len(dups), 1), 1)
    p["exact-dup rows %"] = round(100 * (n - len(set(texts))) / n, 2)
    shares = docs.lang.value_counts(normalize=True)
    p["lang %"] = " ".join(f"{k}:{100 * v:.1f}" for k, v in sorted(shares.items()))
    p["sources"] = docs.source.nunique()
    p["source = doc_id % 20"] = bool((docs.source == "src" + (docs.doc_id % 20).astype(str)).all())
    p["n_chars = len(text)"] = bool((docs.n_chars == docs.text.str.len()).all())
    e = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    v = np.stack(e.embedding.values)
    p["embedding dim"] = v.shape[1]
    p["embedding norm mean"] = round(float(np.linalg.norm(v, axis=1).mean()), 4)
    p["labels"] = e.label.nunique()
    cent = [np.linalg.norm(v[e.label == k].mean(0)) for k in sorted(e.label.unique())]
    p["label centroid norm mean"] = round(float(np.mean(cent)), 3)
    return p


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    profiles = [profile(d) for d in dirs]
    print("| figure | " + " | ".join(os.path.normpath(d) for d in dirs) + " |")
    print("| --- |" + " --- |" * len(dirs))
    for k in profiles[0]:
        print(f"| {k} | " + " | ".join(str(p[k]) for p in profiles) + " |")


if __name__ == "__main__":
    main()
