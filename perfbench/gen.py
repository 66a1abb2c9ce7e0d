"""Seeded input generator for the graft benchmark.

Every input a workload reads is derived here from the workload seed and
nothing else: the same seed writes byte-identical files. The program under
test only ever sees the files written under the run's own input directory.

Tables follow the schema of the engine's star-schema lake (TPC-H-shaped
region/nation/customer/supplier/part/orders/lineitem plus events,
documents and embeddings), so `graft.Tables` reads them unchanged.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
STOPWORDS = {"en": ["the", "a", "of", "and", "to", "in", "is"],
             "es": ["el", "la", "de", "los", "y", "que"],
             "de": ["der", "die", "das", "und", "ist", "von"],
             "fr": ["le", "les", "des", "et", "est", "une"],
             "zh": []}
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01, the lake's order calendar
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")

# Workload sizes. They set how much work one op does; changing them
# changes every figure the benchmark reports.
WAREHOUSE = dict(customers=1500, suppliers=200, parts=2000, orders=10000)
ETL = dict(customers=4000, batches=10, orders_per_batch=400,
           events_per_batch=1000, resend_share=0.05, dup_share=0.05,
           late_share=0.05, batch_hours=6)
CORPUS = dict(shards=10, docs=500, near_dup_share=0.12, exact_dup_share=0.04,
              vectors=800, dim=64, clusters=10, queries=20, vocab=4000)
MIX = dict(clients=2, draws=4000, preds_per_query=2, zipf_s=1.0)

# Warehouse-BI query mix in Zipf rank order (rank 1 is issued most). Each
# entry names a `SparkEntry.queries` operator and the kind of seeded
# predicate applied over its output columns.
BI_QUERIES = [
    ("agg_region_pct", "region"),
    ("revenue_by_nation_segment", "segment"),
    ("price_stats_by_region", "region"),
    ("quarterly_trend", "year"),
    ("pricing_summary", "returnflag"),
    ("customer_spend_quartiles", "mktsegment"),
    ("weekend_pattern", "region"),
    ("status_pivot_by_region", "region"),
    ("geohash_encode", "custkey"),
    ("product_profit", "o_year"),
]


def rng_for(seed, stream):
    """Independent, reproducible random stream per (seed, table)."""
    return np.random.default_rng([int(seed), sum(map(ord, stream)) * 7919 + len(stream)])


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ------------------------------------------------------------------ star schema

def dims(seed, n_customers, n_suppliers=0, n_parts=0):
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = rng_for(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(r.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n_customers),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_customers)]})
    if n_suppliers:
        r = rng_for(seed, "supplier")
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_suppliers), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
            "s_nationkey": pa.array(r.integers(0, 25, n_suppliers), pa.int32()),
            "s_acctbal": money(r, -999.99, 9999.99, n_suppliers)})
    if n_parts:
        r = rng_for(seed, "part")
        adj = ["large", "hot", "blue", "small", "green", "steel", "dark", "light"]
        noun = ["ring", "bolt", "gear", "pipe", "valve", "nut", "plate", "rod"]
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(r.integers(0, 8, n_parts), r.integers(0, 8, n_parts))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_parts)],
            "p_type": [PART_TYPES[t] for t in r.integers(0, 6, n_parts)],
            "p_size": pa.array(r.integers(1, 51, n_parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2)})
    return out


def orders_and_lines(r, keys, n_customers, n_parts, n_suppliers, days):
    """Orders for `keys` placed on `days` (day offsets), with 1-7 lines each."""
    n = len(keys)
    odate = (ORDER_DAY0 + days).astype("datetime64[us]")
    orders = {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": money(r, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)]}
    per = r.integers(1, 8, n)
    lk = np.repeat(keys, per)
    m = len(lk)
    lineno = np.concatenate([np.arange(1, p + 1) for p in per]) if n else np.zeros(0, int)
    ship = np.repeat(odate, per) + r.integers(1, 122, m).astype("timedelta64[D]")
    lines = {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_parts, m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_suppliers, m), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(float),
        "l_extendedprice": money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, m)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))}
    return pa.table(orders), pa.table(lines)


# ------------------------------------------------------------------ warehouse_bi

def bi_predicate(r, kind):
    """One seeded predicate over a query's output columns, valid SQL in both
    Spark and DuckDB."""
    def some(values, lo, hi):
        k = int(r.integers(lo, hi + 1))
        pick = sorted(r.choice(len(values), size=k, replace=False))
        return ", ".join("'%s'" % values[i] for i in pick)
    if kind == "region":
        return f"region IN ({some(REGIONS, 1, 3)})"
    if kind == "segment":
        return f"segment IN ({some(SEGMENTS, 1, 3)})"
    if kind == "mktsegment":
        return f"c_mktsegment IN ({some(SEGMENTS, 1, 3)})"
    if kind == "returnflag":
        return f"l_returnflag IN ({some(['A', 'N', 'R'], 1, 2)})"
    if kind == "custkey":
        lo = int(r.integers(0, WAREHOUSE["customers"] // 2))
        return f"c_custkey BETWEEN {lo} AND {lo + int(r.integers(200, 1200))}"
    col = {"year": "year", "o_year": "o_year"}[kind]
    y0 = int(r.integers(1995, 2000))
    return f"{col} BETWEEN {y0} AND {y0 + int(r.integers(1, 3))}"


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def zipf_sequence(weights, n):
    """Smooth weighted round-robin over query ranks: every window of the
    sequence holds each rank in close to its Zipf share, so a short run sees
    the same query mix whatever its seed (the seed picks the predicates)."""
    credit = np.zeros(len(weights))
    out = []
    for _ in range(n):
        credit += weights
        k = int(np.argmax(credit))
        credit[k] -= 1.0
        out.append(k)
    return out


def gen_warehouse_bi(seed, out):
    t = dims(seed, WAREHOUSE["customers"], WAREHOUSE["suppliers"], WAREHOUSE["parts"])
    r = rng_for(seed, "orders")
    n = WAREHOUSE["orders"]
    o, li = orders_and_lines(r, np.arange(n), WAREHOUSE["customers"], WAREHOUSE["parts"],
                             WAREHOUSE["suppliers"], r.integers(0, ORDER_DAYS, n))
    t["orders"], t["lineitem"] = o, li
    for name, tab in t.items():
        write_parquet(tab, f"{out}/lake/{name}.parquet")
    r = rng_for(seed, "mix")
    variants = []
    for qi, (q, kind) in enumerate(BI_QUERIES):
        for p in range(MIX["preds_per_query"]):
            variants.append({"id": len(variants), "query": q, "rank": qi + 1,
                             "where": bi_predicate(r, kind)})
    qw = zipf_weights(len(BI_QUERIES), MIX["zipf_s"])
    order = zipf_sequence(qw, MIX["draws"] + MIX["clients"] * 11)
    clients = []
    for c in range(MIX["clients"]):
        # clients walk the shared sequence from different offsets, so they
        # do not issue the same query at the same time
        qs = order[c * 11:c * 11 + MIX["draws"]]
        ps = r.integers(0, MIX["preds_per_query"], MIX["draws"])
        clients.append([int(q * MIX["preds_per_query"] + p) for q, p in zip(qs, ps)])
    # the warm-up set: every variant, so no op in the measured window is the
    # first run of its query text (a first run also generates and compiles
    # its code, about 1.5x a repeat, and how many fall in a short window
    # varies with the seed)
    warm = [v["id"] for v in variants]
    spec = {"lake": f"{out}/lake", "variants": variants, "clients": clients,
            "warmup": warm}
    return spec


# ------------------------------------------------------------------ etl_ingest

def write_jsonl(table, path, ts_cols=()):
    cols = table.to_pydict()
    names = list(cols)
    with open(path, "w") as f:
        for i in range(table.num_rows):
            row = {}
            for c in names:
                v = cols[c][i]
                if c in ts_cols:
                    v = v.isoformat(timespec="microseconds")
                row[c] = v
            f.write(json.dumps(row, separators=(",", ":")))
            f.write("\n")


def write_csv(table, path):
    pacsv.write_csv(table, path, pacsv.WriteOptions(include_header=True))


def gen_etl_ingest(seed, out):
    cfg = ETL
    t = dims(seed, cfg["customers"])
    for name, tab in t.items():
        write_parquet(tab, f"{out}/lake/{name}.parquet")
    r = rng_for(seed, "etl")
    nb, per = cfg["batches"], cfg["orders_per_batch"]
    # orders are placed in date order and cut into consecutive date ranges
    days = np.sort(r.integers(0, ORDER_DAYS, nb * per))
    o_all, l_all = orders_and_lines(r, np.arange(nb * per), cfg["customers"], 2000, 100, days)
    line_start = np.concatenate([[0], np.cumsum(np.bincount(
        l_all.column("l_orderkey").to_numpy(), minlength=nb * per))])
    loaded_orders, loaded_custs, seen_events = set(), set(), set()
    batches, events_prev = [], None
    lines_per = np.diff(line_start)
    ev_rng = rng_for(seed, "events")
    next_event = 0
    for b in range(nb):
        keys = np.arange(b * per, (b + 1) * per)
        if b > 0:
            n_resend = int(round(per * cfg["resend_share"]))
            keys = np.concatenate([keys, np.sort(r.choice(b * per, n_resend, replace=False))])
        o_b = o_all.take(pa.array(keys))
        l_idx = np.concatenate([np.arange(line_start[k], line_start[k + 1]) for k in keys])
        l_b = l_all.take(pa.array(l_idx))
        # expected effect of this batch on the warehouse: priceClean rejects
        # keys ≡ 0..4 (mod 50); re-sent keys are already loaded
        valid = [int(k) for k in keys if k % 50 >= 5]
        new = sorted(set(valid) - loaded_orders)
        loaded_orders.update(new)
        custs = o_b.column("o_custkey").to_numpy()
        key_to_cust = dict(zip(keys.tolist(), custs.tolist()))
        new_custs = {key_to_cust[k] for k in new} - loaded_custs
        loaded_custs.update(new_custs)
        new_lines = int(sum(lines_per[k] for k in new))
        # events: this batch's time range, with exact re-deliveries and
        # out-of-order (late, but within the stream watermark) arrivals
        ne = cfg["events_per_batch"]
        t0 = EVENT_T0 + np.timedelta64(b * cfg["batch_hours"], "h")
        span_us = cfg["batch_hours"] * 3600 * 10**6
        ts = t0 + np.sort(ev_rng.integers(0, span_us, ne)).astype("timedelta64[us]")
        n_late = int(ne * cfg["late_share"]) if b > 0 else 0
        late_idx = ev_rng.choice(ne, n_late, replace=False)
        ts[late_idx] = t0 - ev_rng.integers(1, 30 * 60 * 10**6, n_late).astype("timedelta64[us]")
        ids = np.arange(next_event, next_event + ne)
        next_event += ne
        ev = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(ev_rng.integers(0, cfg["customers"], ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in ev_rng.integers(0, 5, ne)],
            "value": money(ev_rng, 0.0, 400.0, ne),
            "props": [json.dumps({"k": int(k)}) for k in ev_rng.integers(0, 100, ne)]})
        n_dup = int(ne * cfg["dup_share"])
        dup_src = ev.take(pa.array(ev_rng.choice(ne, n_dup, replace=False)))
        if events_prev is not None:
            half = n_dup // 2
            dup_src = pa.concat_tables([dup_src.slice(0, n_dup - half),
                                        events_prev.take(pa.array(ev_rng.choice(
                                            events_prev.num_rows, half, replace=False)))])
        events_prev = ev
        ev_b = pa.concat_tables([ev, dup_src])
        new_events = len(set(ev_b.column("event_id").to_pylist()) - seen_events)
        seen_events.update(ev_b.column("event_id").to_pylist())
        raw = f"{out}/raw/b{b:04d}"
        os.makedirs(raw, exist_ok=True)
        write_csv(o_b, f"{raw}/orders.csv")
        write_jsonl(l_b, f"{raw}/lineitem.jsonl", ts_cols=("l_shipdate",))
        write_jsonl(ev_b, f"{raw}/events.jsonl", ts_cols=("ts",))
        batches.append({"dir": raw, "new_orders": len(new), "new_lines": new_lines,
                        "new_customers": len(new_custs), "new_events": new_events,
                        "raw_bytes": sum(os.path.getsize(f"{raw}/{f}") for f in os.listdir(raw))})
    return {"lake": f"{out}/lake", "warehouse": f"{out}/warehouse", "batches": batches}


# ------------------------------------------------------------------ corpus_curation

def vocabulary(r, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(r.integers(3, 10))
        words.add("".join(letters[r.integers(0, 26, k)]))
    return sorted(words)


def corpus_shard(seed, shard, vocab):
    cfg = CORPUS
    r = rng_for(seed, f"shard{shard}")
    wp = 1.0 / (np.arange(len(vocab)) + 10.0)
    wp /= wp.sum()
    n = cfg["docs"]
    texts, langs = [], []
    for i in range(n):
        lang = LANGS[int(r.integers(0, len(LANGS)))]
        k = int(r.integers(8, 120))
        toks = [vocab[j] for j in r.choice(len(vocab), size=k, p=wp)]
        stops = STOPWORDS[lang]
        if stops:
            for pos in np.flatnonzero(r.random(k) < r.uniform(0.0, 0.3)):
                toks[pos] = stops[int(r.integers(0, len(stops)))]
        texts.append(" ".join(toks))
        langs.append(lang)
    sources = [f"src{s}" for s in r.integers(0, 20, n)]
    # injected near-duplicates: a copy of an original with ~3% of its
    # tokens replaced; exact duplicates: verbatim copies. Copies always
    # take higher doc ids than their original.
    n_near = int(n * cfg["near_dup_share"])
    n_exact = int(n * cfg["exact_dup_share"])
    long_docs = [i for i in range(n) if len(texts[i].split()) >= 40]
    near_src = r.choice(long_docs, n_near, replace=False)
    injected = []
    for i in near_src:
        toks = texts[i].split()
        for pos in r.choice(len(toks), max(1, len(toks) // 33), replace=False):
            toks[pos] = vocab[int(r.integers(0, len(vocab)))]
        injected.append((" ".join(toks), langs[i], sources[i]))
    for i in r.choice(n, n_exact, replace=False):
        injected.append((texts[i], langs[i], sources[i]))
    for t, l, s in injected:
        texts.append(t)
        langs.append(l)
        sources.append(s)
    docs = pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv, dim = cfg["vectors"], cfg["dim"]
    centers = r.normal(0.0, 1.0, (cfg["clusters"], dim))
    label = r.integers(0, cfg["clusters"], nv)
    v = centers[label] + 0.8 * r.normal(0.0, 1.0, (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    meta = {"docs": len(texts), "originals": n,
            "injected_ids": list(range(n, len(texts))),
            "distinct_texts": len(set(texts)), "queries": cfg["queries"],
            "top10": exact_top10(v, cfg["queries"])}
    return docs, emb, meta


def exact_top10(v, n_queries, k=10):
    """Brute-force cosine top-k of vectors 0..n_queries-1 (self excluded),
    cosines rounded to 6 places, ties broken by id."""
    x = v.astype(np.float64)
    norms = np.linalg.norm(x, axis=1)
    out = []
    for q in range(n_queries):
        sims = np.round(x @ x[q] / (norms * norms[q]), 6)
        order = sorted((i for i in range(len(x)) if i != q), key=lambda i: (-sims[i], i))
        out.append([[int(i), float(sims[i])] for i in order[:k]])
    return out


def gen_corpus_curation(seed, out):
    vocab = vocabulary(rng_for(seed, "vocab"), CORPUS["vocab"])
    shards = []
    for s in range(CORPUS["shards"]):
        docs, emb, meta = corpus_shard(seed, s, vocab)
        d = f"{out}/shards/s{s:03d}"
        write_parquet(docs, f"{d}/documents.parquet")
        write_parquet(emb, f"{d}/embeddings.parquet")
        meta["dir"] = d
        shards.append(meta)
    return {"shards": shards}


def gen_lake_ingest(seed, out):
    """Each lake batch carries warehouse rows and a corpus shard."""
    return {"etl": gen_etl_ingest(seed, f"{out}/etl"),
            "corpus": gen_corpus_curation(seed, f"{out}/corpus")}


GENERATORS = {"warehouse_bi": gen_warehouse_bi, "lake_ingest": gen_lake_ingest}


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out`; returns the
    spec the benchmark JVM reads (also written to `out/spec.json`)."""
    os.makedirs(out, exist_ok=True)
    spec = GENERATORS[workload](seed, out)
    spec.update({"workload": workload, "seed": int(seed)})
    with open(f"{out}/spec.json", "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    return spec
