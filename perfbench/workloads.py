"""The three workloads: their inputs, op sequences and oracle checks."""
import hashlib
import json
import os
import random

import gen
import oracle

# A fixed stratified sample of 12 oracle-gated, read-only registered
# queries, one per stratum: sql_q*, q1/q3, agg_, win_, join_, set_,
# scalar_, batch ev_, text_, sim_, ml_, pii_ (none writes: no layout_*,
# ev_stream_* or src_*). Drawn once with random.Random(20261017); the sim_
# draw (sim_knn_recall) was replaced by sim_cosine_topk because its DuckDB
# oracle alone takes ~28 s per seed. Fixed so that every seed times the
# same mix; the seed orders it and generates the data. A name missing from
# the catalog is skipped.
ANALYTIC_QUERIES = [
    "agg_argmax_udaf", "ev_retention", "join_asof_native", "ml_target_encode",
    "pii_partial_mask", "q1_pricing_summary", "scalar_strings", "set_intersect_all",
    "sim_cosine_topk", "sql_q12_shape", "text_word_freq", "win_lag_lead"]

# Maintenance and stream ops, each after two ingest batches: a compaction
# rewrite (commits), a retention vacuum (deletes) and a watermarked
# stateful stream.
MAINTENANCE = ["layout_compaction_exec", "layout_vacuum", "ev_stream_dedup"]

WORKLOADS = {
    "analytic_mix": {"sf": 0.01},
    "corpus_curation": {"docs": 4000},
    "ingest_maintain": {"sf": 0.01, "batches": 3, "batch_rows": 10000},
}
for _n, _w in WORKLOADS.items():
    _w["name"] = _n

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "BENCHMARK.json")) as _f:
    PER_LAYER = json.load(_f)["per_layer"]


def inputs(wl, seed, root):
    """Generate (or reuse) the seeded Parquet inputs of a workload."""
    out = {"dirs": []}
    if "sf" in wl:
        d = os.path.join(root, f"star-sf{wl['sf']}-s{seed}")
        out["star"] = gen.cached(d, gen.star, seed, wl["sf"])
        out["dirs"].append(d)
    if "docs" in wl:
        d = os.path.join(root, f"corpus-n{wl['docs']}-s{seed}")
        out["corpus"] = gen.cached(d, gen.corpus, seed, wl["docs"])
        out["dirs"].append(d)
    if "batches" in wl:
        d = os.path.join(root, f"customers-{wl['batches']}x{wl['batch_rows']}-s{seed}")
        out["customers"] = gen.cached(d, gen.customers, seed, wl["batches"],
                                      wl["batch_rows"])
        out["batch_bytes"] = out["customers"]["input_bytes"] / wl["batches"]
        out["dirs"].append(d)
    if wl["name"] == "ingest_maintain":  # the star tables are the lakes' source
        man = out["customers"]
    else:
        man = out.get("corpus") or out["star"]
    out["input_rows"], out["input_bytes"] = man["input_rows"], man["input_bytes"]
    return out


def queries(wl, catalog):
    have = set(catalog["queries"]) & set(catalog["oracle"])
    if wl["name"] == "analytic_mix":
        return [q for q in ANALYTIC_QUERIES if q in have]
    if wl["name"] == "ingest_maintain":
        return [q for q in MAINTENANCE if q in have]
    return []


def oracle_names(wl, catalog):
    if wl["name"] == "corpus_curation":
        return ["pipeline_corpus"]
    return queries(wl, catalog)


def expected(inp, names, sql):
    """DuckDB digests of the oracle twins, cached beside the inputs."""
    data = inp["dirs"][0]
    h = hashlib.sha256(json.dumps([[n, sql.get(n)] for n in names]).encode()).hexdigest()
    path = os.path.join(data, f"oracle-{h[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    missing = [n for n in names if n not in sql]
    got = oracle.digests(data, sql, [n for n in names if n in sql])
    got.update({n: "ERROR: no oracle twin" for n in missing})
    with open(path + ".partial", "w") as f:
        json.dump(got, f)
    os.replace(path + ".partial", path)
    return got


def props(wl, a, inp, catalog, run):
    p = {"workload": wl["name"], "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
         "data": inp["dirs"][0], "table_rows": "", "ops": ""}
    if "star" in inp:
        p["table_rows"] = ",".join(f"{k}:{v}" for k, v in inp["star"]["rows"].items())
        p["kernel_docs"] = os.path.join(inp["dirs"][0], "documents.parquet")
    qs = queries(wl, catalog)
    if wl["name"] == "analytic_mix":  # one seeded order: 12 ops a pass
        p["ops"] = ",".join(random.Random(a.seed).sample(qs, len(qs)))
    elif wl["name"] == "corpus_curation":
        c = inp["corpus"]
        d = inp["dirs"][0]
        p.update(corpus=d, corpus_docs=c["input_rows"],
                 kernel_docs=os.path.join(d, "documents.parquet"),
                 exact_groups=";".join(" ".join(map(str, g)) for g in c["exact_groups"]),
                 near_pairs=";".join(" ".join(map(str, g)) for g in c["near_pairs"]))
    else:  # a fixed order: the vacuum's time depends on where it runs
        d = inp["dirs"][1]
        p.update(batches=",".join(os.path.join(d, f) for f in inp["customers"]["files"]),
                 batch_rows=wl["batch_rows"], salt=f"perfbench-{a.seed}",
                 ops=",".join(x for q in qs for x in ("ingest", "ingest", q)))
    return p
