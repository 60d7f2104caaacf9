"""Seeded input tables for the graft benchmark.

Writes the ten parquet tables graft's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the project's
synthetic TPC-H-style test data. Every value is drawn from a numpy
generator seeded with the benchmark seed, so one seed always gives the
same tables.

Documents carry the two kinds of duplication the dedup layers look for:
near-duplicates (another document's text plus " dup") and a few exact
copies.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Row counts per unit of scale, as in the project's sf tables; documents
# and embeddings do not grow below sf0.01.
PER_SF = dict(customer=150_000, supplier=10_000, part=200_000,
              orders=1_500_000, lineitem=6_000_000, events=1_000_000,
              users=15_000)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n):
    """n document texts: uniform words, 10-100 per document, about 5%
    near-duplicates of another document and 0.2% exact copies."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts


def documents(rng, n):
    texts = doc_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(seed, sf, n_docs):
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf))) for k, v in PER_SF.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p),
                                             rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, o) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, li) * US_PER_DAY)})
    e = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, e))),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents(rng, n_docs)
    vecs = rng.standard_normal((n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})
    return out


def write_tables(out_dir, seed, sf, n_docs):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, n_docs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def topic_inputs(out_dir, seed, backfill, cycles, batch):
    """Records for the topic-log workload: a backfill spread over 7
    days, then `cycles` small batches on the day after. Keys follow a Zipf law
    over 10,000 keys; events are evt-0 .. evt-4. Each batch message
    starts with "b<batch>-" so a replay can be traced back to the batch
    it came from."""
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, 10_001)
    zipf_p = ranks ** -1.1
    zipf_p /= zipf_p.sum()

    def records(n, first_us, span_us, prefixes):
        keys = rng.choice(ranks, n, p=zipf_p)
        tails = rng.integers(0, 1 << 62, (n, 2))
        return pd.DataFrame({
            "event": [f"evt-{e}" for e in rng.integers(0, 5, n)],
            "key": [f"k{k}" for k in keys],
            "message": [f"{p}{a:016x}{b:016x}"
                        for p, (a, b) in zip(prefixes, tails.tolist())],
            "ts": pd.to_datetime(np.sort(first_us + rng.integers(0, span_us, n)),
                                 unit="us"),
        })

    os.makedirs(out_dir, exist_ok=True)
    bf = records(backfill, EPOCH_2024, 7 * US_PER_DAY,
                 [f"bf{i}-" for i in range(backfill)])
    _write(bf, os.path.join(out_dir, "backfill.parquet"))
    n = cycles * batch
    cy = records(n, EPOCH_2024 + 8 * US_PER_DAY, US_PER_DAY,
                 [f"b{i // batch}-" for i in range(n)])
    cy.insert(0, "seq", np.arange(n, dtype=np.int32) % batch)
    cy.insert(0, "batch", np.arange(n, dtype=np.int32) // batch)
    _write(cy, os.path.join(out_dir, "cycles.parquet"))


def curate_inputs(out_dir, seed, n_docs, n_batches):
    """Ingest batches for the curate-cycle workload. The base corpus has
    distinct texts; about 10% of it is cloned exactly (doc_id +
    1,000,000) and 5% as near-duplicates (text + " copy", doc_id +
    2,000,000). A clone always arrives in the batch after its original,
    so the streaming dedup's first arrival is the batch dedup's minimum
    doc_id. The bench split is every 97th base document."""
    rng = np.random.default_rng([seed, 2])
    docs = documents(rng, n_docs).to_pandas()
    docs = docs.drop_duplicates("text", keep="first").reset_index(drop=True)
    base_batch = rng.integers(0, n_batches, len(docs))
    cloneable = base_batch < n_batches - 1
    exact = (rng.random(len(docs)) < 0.10) & cloneable
    near = (rng.random(len(docs)) < 0.05) & cloneable
    ex = docs[exact].copy()
    ex["doc_id"] += 1_000_000
    nd = docs[near].copy()
    nd["doc_id"] += 2_000_000
    nd["text"] = nd["text"] + " copy"
    nd["n_chars"] = nd["text"].str.len().astype(np.int64)
    parts = [(docs, base_batch), (ex, base_batch[exact] + 1),
             (nd, base_batch[near] + 1)]
    os.makedirs(out_dir, exist_ok=True)
    for b in range(n_batches):
        frame = pd.concat([d[bb == b] for d, bb in parts]).sort_values("doc_id")
        _write(frame, os.path.join(out_dir, f"batch_{b}.parquet"))
    _write(docs[docs["doc_id"] % 97 == 0], os.path.join(out_dir, "bench.parquet"))


def _write(frame, path):
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
