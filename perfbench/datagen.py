#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every workload's inputs derive from one fixed *base* dataset shaped like the
TPC-H-style sf0.1 fixture the repo's bench uses (row counts, key ranges,
value domains, the 30-word document vocabulary with exact and near
duplicates, 64-dim embeddings). A `--seed` then relabels the base without
changing its size or structure:

  * keys are permuted consistently across tables (an order key is relabeled
    the same way in `orders` and `lineitem`); part keys are permuted inside
    their residue class mod 4, because the graph fixture thins parts by
    `l_partkey % 4 == 0` and the thinned stratum must keep its size;
  * document text is rewritten with a seed-chosen rotated alphabet, so token
    equality -- and with it every exact/near-duplicate relation -- is kept
    while every shingle and hash value changes;
  * embeddings get a seed-chosen signed permutation of their dimensions,
    which keeps every cosine similarity bit-exact.

Replicas (gds_load, graph_large) add per-copy key offsets, so copies are
disjoint and key-consistent. Row counts therefore never depend on the seed.

Usage:
  python3 perfbench/datagen.py --self-test     # determinism + size checks
"""
import argparse
import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240601
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_LINEITEM = 600_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

# gds_load: the five star tables replicated into this many files each.
GDS_COPIES = 8
# graph_large: disjoint copies of the co-purchase lineitem columns; 16 copies
# put the canonical co-purchase graph (~1.2 M edges) past the 1 M-row
# driver-local gate, while one copy (graph_curate, ~75 k edges) stays far
# below it.
GRAPH_LARGE_COPIES = 16

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PNAME_A = np.array(["large", "hot", "blue", "red", "green", "dark", "pale", "light"])
PNAME_B = np.array(["ring", "bolt", "nut", "screw", "gear", "pipe", "plate", "valve"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1992_MS = 694224000000
DAY_MS = 86_400_000

WORKLOADS = ("gds_load", "graph_curate", "graph_large")


def _base():
    """The fixed, seed-independent base dataset (numpy columns per table)."""
    r = np.random.default_rng(BASE_SEED)
    customer = {
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_nationkey": r.integers(0, 25, N_CUSTOMERS, dtype=np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": SEGMENTS[r.integers(0, len(SEGMENTS), N_CUSTOMERS)],
    }
    supplier = {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_nationkey": r.integers(0, 25, N_SUPPLIERS, dtype=np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    }
    part = {
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": np.char.add(np.char.add(PNAME_A[r.integers(0, 8, N_PARTS)], " "),
                              PNAME_B[r.integers(0, 8, N_PARTS)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, N_PARTS).astype(str)),
        "p_type": PTYPES[r.integers(0, len(PTYPES), N_PARTS)],
        "p_size": r.integers(1, 51, N_PARTS, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PARTS) % 1000) * 0.1, 2),
    }
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(r.uniform(900.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": EPOCH_1992_MS + r.integers(0, 3650, N_ORDERS) * DAY_MS,
        "o_orderpriority": PRIORITIES[r.integers(0, 5, N_ORDERS)],
    }
    lineitem = {
        "l_orderkey": r.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": r.integers(0, N_PARTS, N_LINEITEM, dtype=np.int64),
        "l_suppkey": r.integers(0, N_SUPPLIERS, N_LINEITEM, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": r.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 100000.0, N_LINEITEM), 2),
        "l_discount": r.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": r.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, N_LINEITEM)],
        "l_shipdate": EPOCH_1992_MS + r.integers(0, 3650, N_LINEITEM) * DAY_MS,
    }
    # documents: 10..100 words from the 30-word vocabulary; 250 near
    # duplicates (an earlier document plus " dup") and 8 exact duplicates
    lens = r.integers(10, 101, N_DOCS)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[off:off + n]))
        off += n
    dup_ids = r.choice(np.arange(100, N_DOCS), 258, replace=False)
    for i, d in enumerate(dup_ids):
        src = int(r.integers(0, d))
        texts[d] = texts[src] + " dup" if i < 250 else texts[src]
    documents = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": np.char.add("src", (np.arange(N_DOCS) % 20).astype(str)),
    }
    emb = r.normal(0.0, 0.15, (N_VECS, DIM)).astype(np.float32)
    embeddings = {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": emb,
        "label": r.integers(0, 10, N_VECS, dtype=np.int32),
    }
    return dict(customer=customer, supplier=supplier, part=part, orders=orders,
                lineitem=lineitem, documents=documents, embeddings=embeddings)


def _relabel(base, seed):
    """Apply the seed's key permutations, alphabet rotation and signed
    dimension permutation to the base dataset (returns new columns)."""
    r = np.random.default_rng([BASE_SEED, seed])
    ord_map = r.permutation(N_ORDERS).astype(np.int64)
    cust_map = r.permutation(N_CUSTOMERS).astype(np.int64)
    supp_map = r.permutation(N_SUPPLIERS).astype(np.int64)
    part_q = r.permutation(N_PARTS // 4).astype(np.int64)
    part_map = 4 * part_q[np.arange(N_PARTS) // 4] + np.arange(N_PARTS) % 4
    rot = int(r.integers(0, 26))
    perm = r.permutation(DIM)
    sign = np.where(r.integers(0, 2, DIM) == 1, -1.0, 1.0).astype(np.float32)

    b = {t: dict(cols) for t, cols in base.items()}
    c, s, p, o, li = (b["customer"], b["supplier"], b["part"], b["orders"],
                      b["lineitem"])
    c["c_custkey"] = cust_map[c["c_custkey"]]
    c["c_name"] = np.char.add("Customer#", np.char.zfill(c["c_custkey"].astype(str), 9))
    s["s_suppkey"] = supp_map[s["s_suppkey"]]
    s["s_name"] = np.char.add("Supplier#", np.char.zfill(s["s_suppkey"].astype(str), 9))
    p["p_partkey"] = part_map[p["p_partkey"]]
    o["o_orderkey"] = ord_map[o["o_orderkey"]]
    o["o_custkey"] = cust_map[o["o_custkey"]]
    li["l_orderkey"] = ord_map[li["l_orderkey"]]
    li["l_partkey"] = part_map[li["l_partkey"]]
    li["l_suppkey"] = supp_map[li["l_suppkey"]]
    alpha = "abcdefghijklmnopqrstuvwxyz"
    table = str.maketrans(alpha, alpha[rot:] + alpha[:rot])
    d = b["documents"]
    d["text"] = [t.translate(table) for t in d["text"]]
    d["n_chars"] = np.array([len(t) for t in d["text"]], dtype=np.int64)
    e = b["embeddings"]
    e["embedding"] = e["embedding"][:, perm] * sign
    return b


SCHEMAS = {
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("ms")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("ms"))],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

# key columns shifted per replica copy, with the table whose size sets the
# shift (so copies never share a key)
KEY_SPACE = {"c_custkey": N_CUSTOMERS, "o_custkey": N_CUSTOMERS,
             "s_suppkey": N_SUPPLIERS, "l_suppkey": N_SUPPLIERS,
             "p_partkey": N_PARTS, "l_partkey": N_PARTS,
             "o_orderkey": N_ORDERS, "l_orderkey": N_ORDERS}


def _table(name, cols, only=None, copy=0):
    fields = [(f, t) for f, t in SCHEMAS[name] if only is None or f in only]
    arrays = []
    for f, t in fields:
        v = cols[f]
        if copy and f in KEY_SPACE:
            v = v + copy * KEY_SPACE[f]
        if f == "embedding":
            arrays.append(pa.FixedSizeListArray.from_arrays(
                pa.array(v.reshape(-1)), DIM).cast(t))
        elif t == pa.timestamp("ms"):
            arrays.append(pa.array(v, pa.int64()).cast(t))
        else:
            arrays.append(pa.array(v, t))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _write(tbl, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 20)


def mix64(x):
    """splitmix64 finalizer over uint64 arrays (the key checksum's hash;
    the JVM side computes the same function)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _sum64(x):
    with np.errstate(over="ignore"):
        return int(np.sum(x, dtype=np.uint64))


# gds_load graph model: node and edge specs over the five star tables.
# Regexes are anchored on the table DIRECTORY: routing matches the full file
# path, and every file is named part-NNNNN.parquet, so an unanchored
# `.*part.*` would route all tables to the part spec.
GDS_NODES = [("customer", "c_custkey"), ("part", "p_partkey"),
             ("supplier", "s_suppkey"), ("orders", "o_orderkey")]
GDS_EDGES = [("orders", "o_custkey", "o_orderkey"),
             ("lineitem", "l_orderkey", "l_partkey")]


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs for `seed` under out_dir; return metadata
    (row counts, and for gds_load the expected key checksums)."""
    b = _relabel(_base(), seed)
    meta = {"workload": workload, "seed": seed, "tables": {}}
    if workload == "gds_load":
        node_sum = {t: 0 for t, _ in GDS_NODES}
        edge_sum = {t: 0 for t, _, _ in GDS_EDGES}
        for t in ("customer", "part", "supplier", "orders", "lineitem"):
            rows = 0
            for k in range(GDS_COPIES):
                tbl = _table(t, b[t], copy=k)
                _write(tbl, f"{out_dir}/{t}/part-{k:05d}.parquet")
                rows += tbl.num_rows
                for nt, key in GDS_NODES:
                    if nt == t:
                        node_sum[t] += _sum64(mix64(tbl[key].to_numpy()))
                for et, s, d in GDS_EDGES:
                    if et == t:
                        edge_sum[t] += _sum64(mix64(
                            mix64(tbl[s].to_numpy()) ^ tbl[d].to_numpy().astype(np.uint64)))
            meta["tables"][t] = rows
        m = 1 << 64
        meta["nodes"] = [{"table": t, "key": k, "rows": meta["tables"][t],
                          "checksum": str(node_sum[t] % m)} for t, k in GDS_NODES]
        meta["edges"] = [{"table": t, "src": s, "dst": d, "rows": meta["tables"][t],
                          "checksum": str(edge_sum[t] % m)} for t, s, d in GDS_EDGES]
    elif workload == "graph_curate":
        for t in ("lineitem", "documents", "embeddings"):
            tbl = _table(t, b[t])
            _write(tbl, f"{out_dir}/{t}.parquet/part-00000.parquet")
            meta["tables"][t] = tbl.num_rows
    elif workload == "graph_large":
        rows = 0
        for k in range(GRAPH_LARGE_COPIES):
            tbl = _table("lineitem", b["lineitem"], only={"l_orderkey", "l_partkey"},
                         copy=k)
            _write(tbl, f"{out_dir}/lineitem.parquet/part-{k:05d}.parquet")
            rows += tbl.num_rows
        meta["tables"]["lineitem"] = rows
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{out_dir}/_meta.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def ensure(workload, seed, cache_root):
    """Generate into cache_root/<workload>/seed-<n>-<generator version>
    unless already complete; other seeds of the workload are evicted to
    bound disk use."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    wdir = os.path.join(cache_root, workload)
    out = os.path.join(wdir, f"seed-{seed}-{version}")
    if os.path.exists(os.path.join(out, "_meta.json")):
        with open(os.path.join(out, "_meta.json")) as f:
            return out, json.load(f)
    if os.path.isdir(wdir):
        for d in os.listdir(wdir):
            shutil.rmtree(os.path.join(wdir, d), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = generate(workload, seed, tmp)
    os.replace(tmp, out)
    return out, meta


def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def self_test():
    """Same seed -> byte-identical files; another seed -> identical row
    counts but different content."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        for w in WORKLOADS:
            a = generate(w, 1, f"{tmp}/{w}-a")
            a2 = generate(w, 1, f"{tmp}/{w}-a2")
            b = generate(w, 2, f"{tmp}/{w}-b")
            assert _digest(f"{tmp}/{w}-a") == _digest(f"{tmp}/{w}-a2"), f"{w}: same seed differs"
            assert a["tables"] == b["tables"], f"{w}: row counts depend on seed"
            assert _digest(f"{tmp}/{w}-a") != _digest(f"{tmp}/{w}-b"), f"{w}: seed ignored"
            for x in (f"{tmp}/{w}-a", f"{tmp}/{w}-a2", f"{tmp}/{w}-b"):
                shutil.rmtree(x)
            print(f"ok {w}: {a['tables']}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="perfbench input generator")
    ap.add_argument("--self-test", action="store_true", required=True)
    ap.parse_args()
    self_test()
