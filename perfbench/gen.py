"""Seeded input generators for the benchmark.

Three generators, each a pure function of its seed:

* ``write_tables``: the star-schema parquet tables (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings) that the
  query workloads read. The column layout matches what ``graft.Tables`` loads;
  the value distributions are uniform, like the fixture tables the engine is
  tested on. The tables use one fixed data seed so that every query has a
  recorded expected output; the workload seed only orders the queries.
* ``write_volume``: a float32 NIfTI-1 volume streamed to disk one z-plane at a
  time (never materialized whole). Voxels in the dark slab ``x < dark_x`` are
  0; every other voxel is drawn uniformly from [400, 1000) by a generator
  seeded with (seed, volume, plane). Because the bright voxels never fall
  below 40 % of the clip range, which patches the dark gate drops depends only
  on the geometry, never on the seed.
* ``query_order``: the seeded shuffle of a workload's query list.
"""
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# Rows per table: the shape of the engine's smallest fixture scale. The query
# workloads measure the per-query floor (planning, scheduling, micro-batches),
# which does not shrink with the data; five times the documents and vectors
# leaves similarity_joins just as floor-bound (README.md, "Workloads").
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 200, "embeddings": 200}
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def make_tables(seed=TABLE_SEED, rows=ROWS):
    """Return {table name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n = rows
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    nc, ns, npart, no, nl = (n["customer"], n["supplier"], n["part"],
                             n["orders"], n["lineitem"])
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [segments[i] for i in rng.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adjs = ["red", "blue", "small", "old", "hot", "green", "big", "shiny"]
    nouns = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gear", "pipe"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [types[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    span_o = 2404  # days from 1995-01-01 to 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, span_o + 1, no) * DAY_US),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, no)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US)})
    ne = n["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    kinds = ["click", "view", "purchase", "signup", "error"]
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [kinds[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # ~5 % near-duplicates of an earlier document, half with a marker word
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
            continue
        words = []
        target = int(rng.integers(48, 554))
        while len(" ".join(words)) < target:
            words.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def write_tables(out_dir, seed=TABLE_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# Volume geometry: the reference scan is (960, 840, 640); the benchmark uses a
# smaller shape so that one pipeline run takes a few seconds on 4 cores.
VOLUME_SHAPE = (144, 96, 48)
DARK_X = 96


def nifti_header(shape, zooms=(0.8, 0.8, 0.8)):
    """352-byte NIfTI-1 single-file header for float32 data."""
    h = bytearray(352)
    struct.pack_into("<i", h, 0, 348)
    struct.pack_into("<8h", h, 40, 3, shape[0], shape[1], shape[2], 1, 1, 1, 1)
    struct.pack_into("<hh", h, 70, 16, 32)  # datatype float32, bitpix
    struct.pack_into("<4f", h, 76, 1.0, *zooms)
    struct.pack_into("<fff", h, 108, 352.0, 1.0, 0.0)  # vox_offset, slope, inter
    h[344:348] = b"n+1\x00"
    return bytes(h)


def volume_planes(seed, vol, shape=VOLUME_SHAPE, dark_x=DARK_X):
    """Yield the volume's z-planes as little-endian float32 bytes, x fastest."""
    sx, sy, sz = shape
    for z in range(sz):
        rng = np.random.default_rng([seed, vol, z])
        plane = rng.uniform(400.0, 1000.0, (sy, sx)).astype("<f4")
        plane[:, :dark_x] = 0.0
        yield plane.tobytes()


def write_volume(path, seed, vol, shape=VOLUME_SHAPE, dark_x=DARK_X):
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(nifti_header(shape))
        for plane in volume_planes(seed, vol, shape, dark_x):
            f.write(plane)
    os.replace(tmp, path)


def volume_digest(seed, vol, shape=VOLUME_SHAPE, dark_x=DARK_X):
    h = hashlib.sha256(nifti_header(shape))
    for plane in volume_planes(seed, vol, shape, dark_x):
        h.update(plane)
    return h.hexdigest()


def query_order(names, seed):
    """The workload seed's shuffle of the query list (input order ignored)."""
    names = sorted(names)
    perm = np.random.default_rng(seed).permutation(len(names))
    return [names[i] for i in perm]
