"""Seeded input generation for the benchmark.

Every input the engine sees is made here from the run's seed: the
star-schema tables (`region` … `embeddings`, one parquet file each, the
column names and types of the sf layout the engine's query entries
read), and the lakehouse_dml op script (initial table, per-cycle
ingest / merge / CDC / append batches and the predicates of the
deletes, updates and reads). The same seed gives byte-identical inputs.
"""
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# the corpus vocabulary: the 30 words above as its head, then 970
# two-syllable pseudo-words, drawn with Zipf (1/rank) frequencies. A
# vocabulary this wide keeps chance MinHash collisions between unrelated
# documents rare, so the dedup work tracks the stated near-duplicate
# share instead of the seed.
VOCAB = list(dict.fromkeys(WORDS + [a + b for a in ("ba be bi bo bu da de di do du ka ke ki ko ku "
                                   "la le li lo lu ma me mi mo mu na ne ni no nu "
                                   "pa pe pi po pu ra re ri ro ru sa se si so su").split()
                 for b in ("ta te ti to tu va ve vi vo vu za ze zi zo zu ga ge "
                           "gi go gu fa fe fi fo fu ha he hi ho hu").split()]))[:1000]
VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1)
VOCAB_P /= VOCAB_P.sum()
P_ADJ = "blue old small new red large hot cold".split()
P_NOUN = "widget gizmo bolt plate rod anvil ring gear".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

US = 1_000_000


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _days(rng, start, end, n):
    """Midnight timestamps (micros) uniform in [start, end)."""
    d0 = int((start - datetime(1970, 1, 1)).total_seconds()) // 86400
    d1 = int((end - datetime(1970, 1, 1)).total_seconds()) // 86400
    return pa.array(rng.integers(d0, d1, n) * 86400 * US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_schema(out, seed, sf, docs, near_dup_share, embeddings):
    """The ten sf-layout tables under `out`. `sf` scales the TPC-H-ish
    tables (sf=0.1: 600k lineitem rows); `docs` is the corpus size, of
    which `near_dup_share` are lightly edited copies of earlier docs."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                               rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 2), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", lineitem_cols(rng, n_li, n_ord, n_part, n_supp))
    gaps = rng.exponential(30 * 86400 * US / max(n_ev, 1), n_ev).astype(np.int64) + 1
    ts0 = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds()) * US
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 1), n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # the same length multiset and the same duplicate counts on every
    # seed: only which documents they fall on varies
    lengths = rng.permutation([10 + (90 * i) // max(docs - 1, 1) for i in range(docs)])
    role = np.zeros(docs, dtype=int)
    copies = rng.choice(np.arange(1, docs), size=round(docs * near_dup_share) + round(docs * 0.002),
                        replace=False) if docs > 1 else np.array([], dtype=int)
    role[copies[:round(docs * near_dup_share)]] = 1
    role[copies[round(docs * near_dup_share):]] = 2
    texts = []
    for i in range(docs):
        if role[i]:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if role[i] == 1 else src)
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]), p=VOCAB_P)))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((embeddings, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(embeddings), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings), i32)})


def lineitem_cols(rng, n, n_ord, n_part, n_supp):
    return {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 5), n)}


# ---- lakehouse_dml ---------------------------------------------------

CLAIM_SUPPLIERS = 100


def _claims(rng, ids):
    cols = lineitem_cols(rng, len(ids), 150_000, 20_000, CLAIM_SUPPLIERS)
    return {"id": pa.array(ids, pa.int64()), **cols}


def lakehouse_script(out, seed, table_rows, batch_rows, cycles, bad_share, reads_per_kind):
    """The lakehouse_dml op script: an initial `claims` table of
    `table_rows` lineitem-shaped rows keyed by a unique `id`, then
    `cycles` cycles of inputs. Ids grow with time; each cycle inserts
    about as many rows as it deletes (the oldest ids age out), so the
    live table stays near `table_rows`. Merge and CDC keys favour recent
    ids. `bad_share` of each ingest batch breaks the quality rules; each
    cycle reads `reads_per_kind` ranges, point lookups and counts."""
    rng = np.random.default_rng([seed, 2])
    live = list(range(table_rows))
    next_id = table_rows
    _write(f"{out}/initial.parquet", _claims(rng, np.arange(table_rows)))
    script = []

    def recent(k, exclude=()):
        """k distinct live ids, skewed toward the newest."""
        pool = np.array(live)
        w = np.linspace(0.2, 1.0, len(pool)) ** 3
        picked = rng.choice(pool, size=min(k, len(pool)), replace=False, p=w / w.sum())
        return [int(x) for x in picked if x not in exclude]

    for c in range(cycles):
        d = f"{out}/cycle{c:03d}"
        # ingest: a raw batch with fresh ids; bad rows are quarantined
        ids = np.arange(next_id, next_id + batch_rows)
        next_id += batch_rows
        raw = _claims(rng, ids)
        bad = np.zeros(batch_rows, dtype=bool)
        bad[rng.choice(batch_rows, size=round(batch_rows * bad_share), replace=False)] = True
        q = raw["l_quantity"].copy()
        q[bad] = -q[bad]
        raw["l_quantity"] = q
        _write(f"{d}/raw/part-0.parquet", raw)
        live.extend(int(i) for i, b in zip(ids, bad) if not b)
        # merge: upsert of recent keys plus some new ones
        upd = recent(batch_rows // 2)
        new = list(range(next_id, next_id + batch_rows // 4))
        next_id += len(new)
        _write(f"{d}/merge.parquet", _claims(rng, np.array(upd + new)))
        live.extend(new)
        # CDC: deletes and upserts of recent keys, some inserts
        dels = recent(batch_rows // 4)
        ups = recent(batch_rows // 4, exclude=set(dels))
        ins = list(range(next_id, next_id + batch_rows // 8))
        next_id += len(ins)
        keys = dels + ups + ins
        cdc = _claims(rng, np.array(keys))
        cdc["_delete"] = pa.array([True] * len(dels) + [False] * (len(ups) + len(ins)))
        _write(f"{d}/cdc.parquet", cdc)
        gone = set(dels)
        live = [k for k in live if k not in gone] + ins
        # append
        app = np.arange(next_id, next_id + batch_rows // 2)
        next_id += len(app)
        _write(f"{d}/append.parquet", _claims(rng, app))
        live.extend(int(i) for i in app)
        # delete the oldest ids down to the target size (merge-on-read)
        live.sort()
        excess = max(len(live) - table_rows, 1)
        del_below = live[excess]
        live = live[excess:]
        # update a slice of the middle of the key range (merge-on-read)
        lo = live[len(live) // 2]
        hi = live[min(len(live) // 2 + batch_rows // 4, len(live) - 1)]
        # reads: ranges, point lookups and counted ranges; the client
        # adds two scans of the table as of the previous cycle
        reads = []
        for _ in range(reads_per_kind):
            r0 = live[int(rng.integers(0, len(live) - batch_rows))]
            c0 = live[int(rng.integers(0, len(live) // 2))]
            reads += [
                {"op": "read_range", "lo": int(r0), "hi": int(r0 + batch_rows // 2)},
                {"op": "read_point", "lo": (k := live[int(rng.integers(0, len(live)))]), "hi": k},
                {"op": "count_where", "lo": int(c0), "hi": int(c0 + table_rows // 4)}]
        script.append({
            "dir": d, "delete_below": int(del_below),
            "update_lo": int(lo), "update_hi": int(hi), "reads": reads})
    with open(f"{out}/script.json", "w") as f:
        json.dump(script, f)
