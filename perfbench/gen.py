"""Seeded input generators for the graft benchmark.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical Parquet files. graft only ever sees the files.

  star(seed, dir, sf)          TPC-H-ish star schema + events, documents,
                               embeddings, with the value domains of the
                               graft test fixture (FIXTURES.md)
  corpus(seed, dir, n_docs)    documents.parquet for corpus curation, with
                               planted exact-duplicate groups and
                               near-duplicates, plus their ground truth
  customers(seed, dir, ...)    raw customer batches with nested PII

Each returns a manifest dict (row and byte counts, ground truth) that the
runner stores beside the files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The fixture's 30 content words; "dup" marks a planted near-duplicate.
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(start, micros):
    """Naive (NTZ) microsecond timestamps, as the fixture stores them."""
    base = np.datetime64(start, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def _documents(rng, n, exact_share, near_share):
    """Random texts plus planted duplicates. An exact group copies one
    source text verbatim to 1-3 other docs; a near-duplicate is another
    doc's text with " dup" appended (as in the fixture). Returns the texts,
    the exact groups and the near-duplicate pairs as sorted id lists."""
    texts = _texts(rng, n)
    ids = rng.permutation(n)
    n_exact = int(n * exact_share)
    groups, i = [], 0
    while sum(len(g) for g in groups) < n_exact and i + 4 <= n:
        size = int(rng.integers(2, 5))
        g = sorted(int(x) for x in ids[i:i + size])
        i += size
        for d in g[1:]:
            texts[d] = texts[g[0]]
        groups.append(g)
    n_near = int(n * near_share)
    rest = [int(x) for x in ids[i:]]
    pairs = []
    for j in range(0, min(2 * n_near, len(rest) - 1), 2):
        dst, src = rest[j], rest[j + 1]
        texts[dst] = texts[src] + (" dup" if rng.random() < 0.8 else " dup dup")
        pairs.append(sorted((dst, src)))
    return texts, groups, pairs


def _docs_table(rng, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star(seed, out_dir, sf):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    cents = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(cents(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    day = 86400 * 1_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(cents(1000, 500000, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(cents(900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day)})
    month = 30 * day
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.choice(month, n_ev, replace=False))),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts, _, _ = _documents(rng, n_doc, 0.003, 0.05)
    t["documents"] = _docs_table(rng, texts)
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.6 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    rows, size = {}, {}
    for name, tab in t.items():
        size[name] = _write(tab, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return {"kind": "star", "seed": seed, "sf": sf, "rows": rows, "bytes": size,
            "input_rows": sum(rows.values()), "input_bytes": sum(size.values())}


def corpus(seed, out_dir, n_docs, exact_share=0.02, near_share=0.05):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts, groups, pairs = _documents(rng, n_docs, exact_share, near_share)
    size = _write(_docs_table(rng, texts), os.path.join(out_dir, "documents.parquet"))
    return {"kind": "corpus", "seed": seed, "rows": {"documents": n_docs},
            "bytes": {"documents": size}, "input_rows": n_docs, "input_bytes": size,
            "exact_share": exact_share, "near_share": near_share,
            "exact_groups": groups, "near_pairs": pairs}


FIRST = ["ada", "ben", "cleo", "dan", "eve", "finn", "gus", "hana", "ivan", "jo"]
LAST = ["kim", "lopez", "moss", "ng", "ortiz", "park", "quinn", "rao", "sato", "tan"]
STREETS = ["oak", "elm", "pine", "main", "lake", "hill", "river", "park"]
CITIES = ["austin", "boston", "denver", "fresno", "omaha", "tulsa"]


def _email(rng, ids):
    dom = rng.integers(0, 9, len(ids))
    return [f"{FIRST[i % 10]}.{LAST[(i // 10) % 10]}{i}@mail{d}.example"
            for i, d in zip(ids.tolist(), dom.tolist())]


def _ssn(rng, n):
    a, b, c = rng.integers(100, 900, n), rng.integers(10, 100, n), rng.integers(1000, 10000, n)
    return [f"{x}-{y}-{z}" for x, y, z in zip(a.tolist(), b.tolist(), c.tolist())]


def _phone(rng, n):
    return [f"+1 {x} {y:07d}" for x, y in zip(rng.integers(200, 999, n).tolist(),
                                              rng.integers(0, 10 ** 7, n).tolist())]


def _struct(**cols):
    return pa.StructArray.from_arrays(list(cols.values()), list(cols))


def customers(seed, out_dir, n_batches, batch_rows):
    """Raw customer records: top-level email/ssn/phone, a nested profile
    struct, an array<struct> of contacts and free-text notes that sometimes
    quote an email or SSN."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    files, rows, size = [], 0, 0
    for b in range(n_batches):
        ids = np.arange(b * batch_rows, (b + 1) * batch_rows)
        n = len(ids)
        n_contacts = rng.integers(0, 4, n)
        m = int(n_contacts.sum())
        contact = _struct(kind=pa.array(rng.choice(["home", "work", "emergency"], m)),
                          email=pa.array(_email(rng, rng.integers(0, 10 ** 6, m))),
                          phone=pa.array(_phone(rng, m)), ssn=pa.array(_ssn(rng, m)))
        offsets = pa.array(np.concatenate([[0], np.cumsum(n_contacts)]), pa.int32())
        mails, ssns = _email(rng, ids), _ssn(rng, n)
        n_words = rng.integers(3, 12, n)
        words = rng.integers(0, len(VOCAB), int(n_words.sum())).tolist()
        kind = rng.random(n).tolist()
        notes, k = [], 0
        for i, c in enumerate(n_words.tolist()):
            text = " ".join(VOCAB[w] for w in words[k:k + c])
            k += c
            if kind[i] < 0.2:
                text += f" reach me at {mails[i]}"
            elif kind[i] < 0.3:
                text += f" ssn {ssns[i]} on file"
            notes.append(text)
        streets = [f"{h} {STREETS[s]} st" for h, s in zip(
            rng.integers(1, 9999, n).tolist(), rng.integers(0, len(STREETS), n).tolist())]
        address = _struct(street=pa.array(streets),
                          city=pa.array([CITIES[c] for c in rng.integers(0, len(CITIES), n)]),
                          zip=pa.array([f"{z:05d}" for z in rng.integers(0, 99999, n).tolist()]))
        profile = _struct(age=pa.array(rng.integers(18, 90, n), pa.int32()),
                          email=pa.array(_email(rng, ids + 7)), address=address)
        tab = pa.table({
            "cust_id": pa.array(ids, pa.int64()),
            "name": pa.array([f"{FIRST[i % 10]} {LAST[(i // 10) % 10]}" for i in ids.tolist()]),
            "email": pa.array(mails),
            "ssn": pa.array(ssns),
            "phone": pa.array(_phone(rng, n)),
            "profile": profile,
            "contacts": pa.ListArray.from_arrays(offsets, contact),
            "notes": pa.array(notes),
            "balance": pa.array(np.round(rng.uniform(0, 5000, n), 2)),
        })
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        size += _write(tab, path)
        rows += n
        files.append(os.path.basename(path))
    return {"kind": "customers", "seed": seed, "files": files, "batch_rows": batch_rows,
            "input_rows": rows, "input_bytes": size}


def cached(path, fn, *args):
    """Run a generator once per (seed, size): its manifest marks completion."""
    mf = os.path.join(path, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            return json.load(f)
    tmp = path + ".partial"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    man = fn(*args[:1], tmp, *args[1:])
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    os.replace(tmp, path)
    return man


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    print(star(int(sys.argv[1]), sys.argv[2], float(sys.argv[3])), time.time() - t0)
