#!/usr/bin/env python3
"""Seeded input generator. The same seed gives byte-identical files.

    python3 etlbench/gen.py subgraph <dir> <seed>
    python3 etlbench/gen.py documents <dir> <seed>

`subgraph` writes a graph-node-shaped parquet source (the layout
`ParquetEntitySource` reads: catalog tables plus one directory per
entity table), the extract config in the library's JSON format, and
`manifest.json` with the block layout the checks count rows from.
`documents` writes `documents.parquet` shaped like the `documents` test
table, with exact and near copies so the dedup funnels find candidates.
"""
import json
import os
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SUBGRAPH = "etl_subgraph"
DEPLOYMENT = "QmEtlBenchDeployment"
SCHEMA = "sgd7"
EARLIEST = 18_000_000
# The backfill head sits 64 blocks into a 128 tile, so head ticks of 32
# blocks complete a 128 tile every 4th tick (the 2nd, 6th, 10th, ...).
TIERS = [8192, 128, 32]
BACKFILL_SPAN = 40_000       # 16 work partitions over three tiers per table
HEADROOM = 32 * 64           # blocks past the backfill head, for head ticks
BLOCK_SPAN = BACKFILL_SPAN + HEADROOM
FILES_PER_TABLE = 4
ROW_GROUP_ROWS = 4096

U64_MAX = 2 ** 64 - 1
I64_MAX = 2 ** 63 - 1

# name, rows, {column: database type}, column_mappings
TABLES = [
    ("token_transfer", 16_000,
     {"amount": "numeric", "fee": "numeric", "id": "text", "token": "text",
      "internal": "boolean", "tx_hash": "bytea"},
     {"amount": [
         {"name": "amount_gwei", "type": "uint64", "downscale": 10 ** 9,
          "max_value": U64_MAX, "default": 0,
          "validity_column": "amount_gwei_valid"},
         {"name": "amount_i64", "type": "int64", "max_value": I64_MAX,
          "default": -1}],
      "fee": [{"name": "fee_u64", "type": "uint64", "max_value": U64_MAX,
               "default": 0, "validity_column": "fee_valid"}]}),
    ("prepaid_card_ask", 8_000,
     {"ask_price": "numeric", "id": "text", "sku": "text",
      "issuing_token": "text", "active": "boolean", "card_key": "bytea"},
     {"ask_price": [{"name": "ask_price_e6", "type": "uint64",
                     "downscale": 10 ** 12, "max_value": U64_MAX,
                     "default": 0, "validity_column": "ask_price_e6_valid"}]}),
    ("price_tick", 6_000,
     {"price": "numeric", "volume": "numeric", "id": "text", "pair": "text",
      "stale": "boolean", "oracle": "bytea"},
     {"price": [{"name": "price_u64", "type": "uint64", "downscale": 1000,
                 "max_value": U64_MAX, "default": 0,
                 "validity_column": "price_valid"}],
      "volume": [{"name": "volume_bytes", "type": "bytes"}]}),
]


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def catalog(root, head):
    cat = os.path.join(root, "catalog")
    write(pa.table({"subgraph": [DEPLOYMENT], "name": [SCHEMA],
                    "network": ["mainnet"], "active": [True]}),
          f"{cat}/deployment_schemas.parquet")
    write(pa.table({"deployment": [DEPLOYMENT], "id": ["v1"]}),
          f"{cat}/subgraph_version.parquet")
    write(pa.table({"name": [SUBGRAPH], "current_version": ["v1"]}),
          f"{cat}/subgraph.parquet")
    write(pa.table({"deployment": [DEPLOYMENT],
                    "earliest_block_number": pa.array([EARLIEST], pa.int64()),
                    "latest_ethereum_block_number": pa.array([head], pa.int64())}),
          f"{cat}/subgraph_deployment.parquet")
    info = [(SCHEMA, name, c, ty) for name, _, cols, _ in TABLES
            for c, ty in list(cols.items()) + [("block_range", "int4range"),
                                               ("vid", "bigint")]]
    write(pa.table({k: [r[i] for r in info] for i, k in enumerate(
        ("table_schema", "table_name", "column_name", "data_type"))}),
        f"{cat}/information_schema.parquet")


def entity_table(rng, rows, cols):
    i = np.arange(rows, dtype=np.int64)
    block = EARLIEST + i * BLOCK_SPAN // rows
    upper = np.where(rng.integers(0, 5, rows) == 0, block + 7, 0)
    data = {
        "vid": pa.array(i + 1),
        "block_lower": pa.array(block.astype(np.int32)),
        "block_upper": pa.array(upper.astype(np.int32), mask=upper == 0),
    }
    for c, ty in cols.items():
        if ty == "numeric":
            # uint256-style magnitudes: an 18-digit mantissa times 10^0..19,
            # so some rows overflow every clamp and some divide to zero
            mant = rng.integers(0, 10 ** 18, rows, dtype=np.int64)
            exp = rng.integers(0, 20, rows)
            data[c] = pa.array([Decimal(int(m) * 10 ** int(e))
                                for m, e in zip(mant, exp)], pa.decimal128(38, 0))
        elif ty == "text":
            a = rng.integers(0, 2 ** 63, rows, dtype=np.int64)
            b = rng.integers(0, 2 ** 63, rows, dtype=np.int64)
            data[c] = pa.array([f"0x{x:016x}{y:016x}{k:08x}"
                                for x, y, k in zip(a, b, i)])
        elif ty == "boolean":
            data[c] = pa.array(rng.integers(0, 3, rows) == 0)
        elif ty == "bytea":
            data[c] = pa.array([bytes(r) for r in
                                rng.integers(0, 256, (rows, 16), dtype=np.uint8)],
                               pa.binary())
    return pa.table(data)


def subgraph(root, seed):
    head = EARLIEST + BACKFILL_SPAN
    catalog(root, head)
    for ti, (name, rows, cols, _) in enumerate(TABLES):
        rng = np.random.default_rng([seed, ti])
        t = entity_table(rng, rows, cols)
        per = -(-rows // FILES_PER_TABLE)
        for f in range(FILES_PER_TABLE):
            write(t.slice(f * per, per), f"{root}/{SCHEMA}/{name}.parquet/part-{f}.parquet")
    config = {"name": "etlbench", "version": "1", "subgraph": SUBGRAPH,
              "tables": {name: {"partition_sizes": TIERS, "column_mappings": maps}
                         for name, _, _, maps in TABLES}}
    with open(f"{root}/config.json", "w") as fh:
        json.dump(config, fh, indent=1)
    with open(f"{root}/manifest.json", "w") as fh:
        json.dump({"deployment": DEPLOYMENT, "earliest": EARLIEST, "block_span": BLOCK_SPAN,
                   "backfill_head": head, "headroom": HEADROOM,
                   "tables": {name: rows for name, rows, _, _ in TABLES}}, fh)


VOCAB = ("a the data spark stream batch table column row key value hash join "
         "merge sort scan filter group agg window order line part customer "
         "vector query fast slow big small block chain token card price index "
         "graph node range tier").split()
DOCS = 1000


def documents(root, seed, n=DOCS):
    """10-80 words from a 40-word vocabulary per document. In every 50
    documents, one is an exact copy and three are near copies (one word
    in twelve replaced) of an earlier original, so the duplicate share is
    fixed and only which documents repeat depends on the seed. doc_ids
    are a seeded permutation of 0..n-1; the file is in doc_id order."""
    rng = np.random.default_rng([seed, 1000])
    texts, originals = [], []
    for i in range(n):
        slot = i % 50
        if i >= 50 and slot in (16, 32, 48, 49):
            words = texts[originals[rng.integers(0, len(originals))]].split(" ")
            if slot != 49:
                words = [VOCAB[rng.integers(0, 40)] if rng.integers(0, 12) == 0
                         else w for w in words]
        else:
            words = [VOCAB[k] for k in rng.integers(0, 40, rng.integers(10, 81))]
            originals.append(i)
        texts.append(" ".join(words))
    perm = rng.permutation(n)
    order = np.argsort(perm)
    langs = np.array(["en", "es", "fr", "de", "zh"])[rng.integers(0, 5, n)]
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array([texts[k] for k in order]),
        "lang": pa.array(langs[order]),
        "source": pa.array([f"src{k % 16}" for k in order]),
        "n_chars": pa.array(np.array([len(texts[k]) for k in order], dtype=np.int64)),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(t, f"{root}/documents.parquet")


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    {"subgraph": subgraph, "documents": documents}[kind](out, seed)
