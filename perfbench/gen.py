#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    gen.py --workload {table_churn,vector_serve} --seed N --out DIR

The same seed gives byte-identical inputs. Sizes and shares are the
constants below; README.md quotes them. Files ending in .tsv or .f64 are
for the benchmark's output checks only; the engine reads the others.
For vector_serve, DIR/warm/ holds the same layout at a tenth of the
size, for the warm-up (table_churn warms up on its full-size inputs).

table_churn   DIR/table/base/NNNNN.{csv,tar}  base corpus as a shards dataset:
                                              (image_name, key, grp, val, note)
                                              plus one tar member per row
              DIR/table/cNNNN.{parquet,tsv}   one change batch per commit
              DIR/table/schedule.txt          commit kinds, one per line
vector_serve  DIR/vector/embeddings.parquet   (vec_id, embedding, label)
              DIR/vector/embeddings.f64       the same vectors, float64 rows
              DIR/vector/append.{parquet,f64} the append batch (vec_id, v)
              DIR/vector/queries.txt          query vec_ids, one per search

The embeddings follow the construction tools/gen_scale.py documents for
the measured embeddings, with a seed added: i.i.d. uniform vectors in
[-1, 1) (no cosine cluster; labels are independent of the vectors), plus
a 0.5% tail of near-duplicate replicas (every 200th vector is its
predecessor-by-100 plus uniform noise in [-0.05, 0.05) per coordinate).
The appended vectors are fresh draws from the same uniform distribution.
"""
import argparse
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- table_churn -----------------------------------------------------------
TABLE_ROWS = 10000
TABLE_SHARDS = 2
IMAGE_SHARE = 0.10      # base rows whose tar member is a PNG; the rest are empty
GROUPS = 16
COMMITS = 8             # commits per episode
UPSERT_ROWS = 200       # 60% updates of live keys, 40% new keys
DELETE_ROWS = 50


def commit_kind(i):
    """Kind of commit i (1-based): compact every 8th, delete at 2 mod 4."""
    if i % 8 == 0:
        return "compact"
    if i % 4 == 2:
        return "delete"
    return "upsert"


# ---- vector_serve ----------------------------------------------------------
VECTORS = 12000
DIM = 64
LABELS = 16
DUP_EVERY = 200         # 0.5% near-duplicate tail
DUP_NOISE = 0.05        # replica = source + U[-0.05, 0.05) per coordinate
APPEND_ROWS = 100
SEARCHES = 64           # one query id per search of an episode
CENTROIDS = 16          # the index convention: vec_id < 16 are centroids
APPEND_ID_BASE = 1_000_000


def png_bytes(side, rng):
    """A valid side x side RGB PNG of noise."""
    img = rng.integers(0, 256, (side, side, 3)).astype(np.uint8)
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(side))

    def chunk(kind, data):
        return (struct.pack(">I", len(data)) + kind + data +
                struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF))
    return (b"\x89PNG\r\n\x1a\n" +
            chunk(b"IHDR", struct.pack(">IIBBBBB", side, side, 8, 2, 0, 0, 0)) +
            chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def tar_member(name, data):
    """One ustar member: a 512-byte header, then the data padded to 512."""
    h = bytearray(512)
    h[0:len(name)] = name.encode()
    for off, width, val in ((100, 8, 0o644), (108, 8, 0), (116, 8, 0),
                            (124, 12, len(data)), (136, 12, 0)):
        h[off:off + width] = b"%0*o\0" % (width - 1, val)
    h[148:156] = b" " * 8
    h[156:157] = b"0"
    h[257:265] = b"ustar\x0000"
    h[148:156] = b"%06o\0 " % sum(h)
    return bytes(h) + data + b"\0" * (-len(data) % 512)


def table_rows(keys, rng):
    n = len(keys)
    lens = rng.integers(16, 48, n)
    text = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8).tobytes().decode()
    ends = np.cumsum(lens)
    return {"key": [int(k) for k in keys],
            "grp": [f"g{int(g):02d}" for g in rng.integers(0, GROUPS, n)],
            "val": [int(v) for v in rng.integers(-1000, 100000, n)],
            "note": [text[e - m:e] for e, m in zip(ends, lens)]}


def write_batch(path, cols):
    schema = pa.schema([(c, pa.int64() if c in ("key", "val") else pa.string())
                        for c in cols])
    pq.write_table(pa.table(cols, schema=schema), path + ".parquet")
    with open(path + ".tsv", "w") as f:
        f.write("\t".join(cols) + "\n")
        for row in zip(*cols.values()):
            f.write("\t".join(str(x) for x in row) + "\n")


def gen_table(out, rng, scale):
    tdir = os.path.join(out, "table")
    bdir = os.path.join(tdir, "base")
    os.makedirs(bdir, exist_ok=True)
    n_rows = TABLE_ROWS // scale
    base = table_rows(np.arange(n_rows), rng)
    per = n_rows // TABLE_SHARDS
    for s in range(TABLE_SHARDS):
        with open(os.path.join(bdir, f"{s:05d}.tar"), "wb") as tar, \
                open(os.path.join(bdir, f"{s:05d}.csv"), "w") as csv:
            csv.write("image_name,key,grp,val,note\n")
            for i in range(s * per, (s + 1) * per):
                member = f"{i:07d}.png"
                payload = (png_bytes(int(rng.integers(8, 25)), rng)
                           if rng.random() < IMAGE_SHARE else b"")
                tar.write(tar_member(member, payload))
                csv.write(f"{member},{base['key'][i]},{base['grp'][i]},"
                          f"{base['val'][i]},{base['note'][i]}\n")
            tar.write(b"\0" * 1024)
    live = list(range(n_rows))
    next_key = n_rows
    kinds = []
    for i in range(1, COMMITS + 1):
        kind = commit_kind(i)
        kinds.append(kind)
        path = os.path.join(tdir, f"c{i:04d}")
        if kind == "upsert":
            n_upd = UPSERT_ROWS // scale * 6 // 10
            keys = [live[int(j)] for j in rng.choice(len(live), n_upd, replace=False)]
            new = list(range(next_key, next_key + UPSERT_ROWS // scale - n_upd))
            next_key += len(new)
            live.extend(new)
            write_batch(path, table_rows(keys + new, rng))
        elif kind == "delete":
            gone = set(int(j) for j in rng.choice(len(live), DELETE_ROWS // scale,
                                                  replace=False))
            write_batch(path, {"key": [live[j] for j in sorted(gone)]})
            live = [k for j, k in enumerate(live) if j not in gone]
    with open(os.path.join(tdir, "schedule.txt"), "w") as f:
        f.write("\n".join(kinds) + "\n")


def gen_vector(out, rng, scale):
    vdir = os.path.join(out, "vector")
    os.makedirs(vdir, exist_ok=True)
    n_vecs = VECTORS // scale
    vecs = rng.uniform(-1.0, 1.0, (n_vecs, DIM))
    label = rng.integers(0, LABELS, n_vecs)
    tail = np.arange(n_vecs) % DUP_EVERY == DUP_EVERY - 1
    src = np.arange(n_vecs) - DUP_EVERY // 2
    vecs[tail] = vecs[src[tail]] + rng.uniform(-DUP_NOISE, DUP_NOISE,
                                               (int(tail.sum()), DIM))
    label[tail] = label[src[tail]]
    vecs = vecs.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        os.path.join(vdir, "embeddings.parquet"))
    vecs.astype("<f8").tofile(os.path.join(vdir, "embeddings.f64"))
    n_app = APPEND_ROWS // scale
    v = rng.uniform(-1.0, 1.0, (n_app, DIM))
    pq.write_table(pa.table({
        "vec_id": pa.array(APPEND_ID_BASE + np.arange(n_app), pa.int64()),
        "v": pa.array(list(v), pa.list_(pa.float64()))}),
        os.path.join(vdir, "append.parquet"))
    v.astype("<f8").tofile(os.path.join(vdir, "append.f64"))
    queries = rng.choice(np.arange(CENTROIDS, n_vecs), SEARCHES, replace=False)
    with open(os.path.join(vdir, "queries.txt"), "w") as f:
        f.write("\n".join(str(int(q)) for q in queries) + "\n")


GENERATORS = {"table_churn": gen_table, "vector_serve": gen_vector}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    GENERATORS[a.workload](a.out, rng, 1)
    if a.workload == "vector_serve":
        GENERATORS[a.workload](os.path.join(a.out, "warm"), rng, 10)


if __name__ == "__main__":
    main()
