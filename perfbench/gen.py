"""Seeded input generator for the benchmark.

Every input a workload reads comes from here, written under one output
directory. The same seed and sizes give byte-identical files.

  vectors   embeddings.parquet (dense vec_id, float32 embedding, label),
            inserts.parquet (the insert pool, ids after the base),
            embeddings.ndjson (the reference's on-disk format, with
            planted malformed and vector-less lines)
  documents documents.parquet with planted exact-duplicate groups and
            near-duplicate pairs; planted.txt names them
  tables    the TPC-H-like star schema plus events, and the documents
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes per workload; recorded in every result
SIZES = {
    "ann_build_serve": {"n": 4000, "dim": 64, "clusters": 48, "sigma": 1.5,
                        "n_insert": 2048},
    "curation_analytics": {"customer": 1500, "supplier": 100, "part": 2000,
                           "orders": 15000, "lineitem": 60000, "events": 10000,
                           "docs": 600, "exact_groups": 30, "near_pairs": 100},
}


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- vectors

def vectors(out, seed, n, dim, clusters, sigma, n_insert):
    """Gaussian clusters; the label is the cluster id mod 10.

    The held-out tail (vec_id >= round(0.95 n), the split's queries) sits
    between two clusters instead of inside one, which keeps the index's
    recall below 1.
    """
    rng = _rng(seed, 1)
    centers = rng.normal(0.0, 1.0, (clusters, dim)) * 4.0
    total = n + n_insert
    assign = rng.integers(0, clusters, total)
    mid = centers[assign]
    held = np.arange(total) >= int(round(0.95 * n))
    held[n:] = False
    other = centers[rng.integers(0, clusters, total)]
    mid[held] = (mid[held] + other[held]) / 2.0
    x = (mid + rng.normal(0.0, sigma, (total, dim))).astype(np.float32)
    label = (assign % 10).astype(np.int32)

    def table(lo, hi):
        flat = pa.array(x[lo:hi].reshape(-1), type=pa.float32())
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (hi - lo + 1) * dim, dim, dtype=np.int32)), flat)
        return pa.table({"vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                         "embedding": emb,
                         "label": pa.array(label[lo:hi])})

    _write(table(0, n), os.path.join(out, "embeddings.parquet"))
    _write(table(n, total), os.path.join(out, "inserts.parquet"))
    lines = 0
    with open(os.path.join(out, "embeddings.ndjson"), "w", encoding="utf-8") as f:
        for i in range(n):
            vec = ",".join(repr(float(v)) for v in x[i])
            f.write('{"body": "Doc %d label %d. Row %d of the generated set.", '
                    '"text-embedding-ada-002": [%s]}\n' % (i, label[i], i, vec))
            lines += 1
            if i % 10 == 9:
                f.write('{"body": 17 "broken json\n')
                lines += 1
            if i % 25 == 24:
                f.write('{"body": "stray row without a vector", '
                        '"text-embedding-ada-002": null}\n')
                lines += 1
    return {"base_vectors": n, "insert_pool": n_insert, "dim": dim,
            "clusters": clusters, "sigma": sigma, "ndjson_lines": lines}


# -------------------------------------------------------------- documents

HARD_SHARE = 0.1
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _vocab(size):
    syl = ["ka", "lo", "mi", "ne", "pu", "ra", "si", "to", "ve", "zu",
           "ba", "de", "fi", "go", "hu", "je"]
    words = []
    for a in syl:
        for b in syl:
            for c in syl:
                words.append(a + b + c)
    return words[:size]


def _grams(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def _jaccard(a, b):
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / len(ga | gb)


def documents(out, seed, docs, exact_groups, near_pairs):
    """Random texts plus planted duplicates at known ids.

    An exact-duplicate group is 2-4 copies of one text. A near-duplicate
    pair is a text and a copy with a few words replaced. Replacements are
    redrawn until the pair's 3-gram Jaccard sits clear of the 0.8
    clustering threshold: at 0.85 or above for most pairs, at 0.75 or
    below for a HARD_SHARE of them, which threshold clustering misses.
    """
    rng = _rng(seed, 2)
    vocab = _vocab(4096)
    index = {w: i for i, w in enumerate(vocab)}
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    group_sizes = rng.integers(2, 5, exact_groups)
    base = docs - int(group_sizes.sum()) + exact_groups - near_pairs
    if base < exact_groups + near_pairs:
        raise ValueError("too few documents for the planted duplicates")
    texts = []
    for _ in range(base):
        w = rng.choice(len(vocab), rng.integers(40, 81), p=zipf)
        texts.append([vocab[i] for i in w])
    meta = [(LANGS[rng.choice(5, p=LANG_P)], "src%d" % rng.integers(0, 20))
            for _ in range(base)]
    # planted copies come from distinct originals
    origins = rng.permutation(base)[:exact_groups + near_pairs]
    rows = [(t, m) for t, m in zip(texts, meta)]
    groups = []
    for g, size in enumerate(group_sizes):
        o = int(origins[g])
        members = [o]
        for _ in range(size - 1):
            rows.append((texts[o], meta[o]))
            members.append(len(rows) - 1)
        groups.append(members)
    pairs = []
    n_hard = int(round(near_pairs * HARD_SHARE))
    for p in range(near_pairs):
        o = int(origins[exact_groups + p])
        hard = p < n_hard
        while True:
            copy = list(texts[o])
            for pos in rng.choice(len(copy), rng.integers(1, 6), replace=False):
                # a different word than the one replaced
                copy[pos] = vocab[(index[copy[pos]] + rng.integers(1, len(vocab)))
                                  % len(vocab)]
            j = _jaccard(texts[o], copy)
            if (j <= 0.75) if hard else (j >= 0.85):
                break
        rows.append((copy, meta[o]))
        pairs.append([o, len(rows) - 1])
    # dense ids in a shuffled order, so planted rows are spread out
    perm = rng.permutation(len(rows))
    new_id = np.empty(len(rows), dtype=np.int64)
    new_id[perm] = np.arange(len(rows))
    ordered = [rows[i] for i in perm]
    text = [" ".join(t) for t, _ in ordered]
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(rows), dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array([m[0] for _, m in ordered]),
        "source": pa.array([m[1] for _, m in ordered]),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "planted.txt"), "w") as f:
        for g in groups:
            f.write("exact %s\n" % " ".join(str(i) for i in sorted(new_id[g])))
        for p in pairs:
            f.write("near %s\n" % " ".join(str(i) for i in sorted(new_id[p])))
    return {"docs": len(rows), "exact_groups": exact_groups,
            "exact_copies": int(group_sizes.sum()) - exact_groups,
            "near_pairs": near_pairs, "hard_pairs": n_hard}


# ----------------------------------------------------------------- tables

COLORS = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, customer, supplier, part, orders, lineitem, events,
           docs, exact_groups, near_pairs):
    """The star schema the declared analytics queries read, and the
    documents with their planted duplicates."""
    rng = _rng(seed, 3)
    ts = pa.timestamp("us")
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           os.path.join(out, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           os.path.join(out, "nation.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(customer, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, customer).astype(np.int32)),
        "c_acctbal": _money(rng, customer, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customer)],
    }), os.path.join(out, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(supplier, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, supplier).astype(np.int32)),
        "s_acctbal": _money(rng, supplier, -999.99, 9999.99),
    }), os.path.join(out, "supplier.parquet"))
    _write(pa.table({
        "p_partkey": pa.array(np.arange(part, dtype=np.int64)),
        "p_name": ["%s %s" % (COLORS[a], NOUNS[b]) for a, b in
                   zip(rng.integers(0, 8, part), rng.integers(0, 8, part))],
        "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, part)],
        "p_size": pa.array(rng.integers(1, 51, part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(part) % 1000) * 0.1, 2),
    }), os.path.join(out, "part.parquet"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customer, orders)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, orders, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, orders, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, orders)],
    }), os.path.join(out, "orders.parquet"))
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, lineitem)),
        "l_partkey": pa.array(rng.integers(0, part, lineitem)),
        "l_suppkey": pa.array(rng.integers(0, supplier, lineitem)),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, lineitem).astype(np.float64),
        "l_extendedprice": _money(rng, lineitem, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, lineitem)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, lineitem)],
        "l_shipdate": pa.array(_days(rng, lineitem, "1995-01-02", "2001-11-04"), ts),
    }), os.path.join(out, "lineitem.parquet"))
    gaps = rng.exponential(30 * 86400e6 / events, events).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    _write(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(start + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, events)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, events)],
        "value": np.round(rng.lognormal(3.5, 1.0, events), 2),
        "props": ['{"k": %d}' % i for i in rng.integers(0, 100, events)],
    }), os.path.join(out, "events.parquet"))
    sizes = {"customer": customer, "supplier": supplier, "part": part,
             "orders": orders, "lineitem": lineitem, "events": events}
    sizes.update(documents(out, seed, docs, exact_groups, near_pairs))
    return sizes


def generate(workload, out, seed):
    """Write the inputs of one workload under `out`; return their sizes."""
    os.makedirs(out, exist_ok=True)
    s = SIZES[workload]
    if workload == "ann_build_serve":
        return vectors(out, seed, **s)
    if workload == "curation_analytics":
        return tables(out, seed, **s)
    raise ValueError("unknown workload: " + workload)

