#!/usr/bin/env python3
"""Build a scale point whose embeddings have planted cluster locality.

Copies every table of the fixture dir SRC_SF (sf0.1 in the committed
measurements) except embeddings.parquet into OUTDIR, then writes an
embeddings.parquet with the fixture's schema (vec_id BIGINT,
embedding FLOAT[], label INTEGER) holding N vectors of 64 dimensions:
vector i belongs to blob i % BLOBS, each blob centre is drawn from
N(0, 10^2) per component, and each member is its centre plus
N(0, 0.01^2) noise per component (the SimilaritySpec locality layout,
scaled up). label is the blob id mod 10. With the defaults (40960
vectors, 203 blobs) the SemDeDup k = ceil(sqrt(n)) = 203 first-id seeds
are exactly one member of each blob.

Usage: python3 tools/make_locality.py SRC_SF OUTDIR [N] [BLOBS] [SEED]
       (defaults 40960, 203, 11)
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

src, out = sys.argv[1], sys.argv[2]
n = int(sys.argv[3]) if len(sys.argv) > 3 else 40960
blobs = int(sys.argv[4]) if len(sys.argv) > 4 else 203
seed = int(sys.argv[5]) if len(sys.argv) > 5 else 11

os.makedirs(out, exist_ok=True)
for name in sorted(os.listdir(src)):
    if name.endswith(".parquet") and name != "embeddings.parquet":
        shutil.copyfile(os.path.join(src, name), os.path.join(out, name))

rng = np.random.default_rng(seed)
centres = rng.normal(0.0, 10.0, size=(blobs, DIM))
ids = np.arange(n, dtype=np.int64)
vecs = (centres[ids % blobs]
        + rng.normal(0.0, 0.01, size=(n, DIM))).astype(np.float32)
emb = pa.ListArray.from_arrays(
    pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)),
    pa.array(vecs.reshape(-1), type=pa.float32()))
table = pa.table({
    "vec_id": pa.array(ids, type=pa.int64()),
    "embedding": emb,
    "label": pa.array((ids % blobs) % 10, type=pa.int32()),
})
pq.write_table(table, os.path.join(out, "embeddings.parquet"))
print(f"[make_locality] {n} vectors in {blobs} blobs -> {out}")
