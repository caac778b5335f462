"""Seeded input generator for the perfbench workloads.

Every table is drawn from one numpy Generator seeded by the workload seed
and written with pyarrow as a single-row-group parquet file, so the same
seed gives byte-identical files and a different seed gives different ones.
Schemas and value distributions follow the engine's fixture tables (the
TPC-H-ish star schema plus `events`, `documents` and `embeddings`).

Each generator returns a small JSON-able manifest; the asset_sync manifest
also carries the generator's model of the live sink state after each round.
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
ADJ = np.array(["red", "new", "hot", "small", "cold", "large", "old", "blue"])
NOUN = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _strs(values):
    return pa.array(values.tolist(), pa.string())


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86400 * 1_000_000).astype("datetime64[us]")


def events_table(rng, n, users):
    """`n` signal events over 30 days of January 2024, one per microsecond
    instant at most, ordered by time with sequential event ids."""
    offs = np.sort(rng.choice(EVENTS_SPAN_US, n, replace=False))
    ts = EVENTS_T0 + offs.astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _strs(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % v for v in k], pa.string()),
    })


def documents_table(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _strs(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n):
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def star_tables(rng, sf):
    """The relational star schema at scale factor `sf`."""
    nc, ns, np_, no = int(150000 * sf), int(10000 * sf), int(200000 * sf), int(1500000 * sf)
    nl = 4 * no
    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": _strs(SEGMENTS[rng.integers(0, 5, nc)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    keys = np.arange(np_, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _strs(np.char.add(np.char.add(ADJ[rng.integers(0, 8, np_)], " "),
                                    NOUN[rng.integers(0, 8, np_)])),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, np_)], pa.string()),
        "p_type": _strs(PTYPES[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _strs(np.array(["O", "F", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": _strs(PRIORITIES[rng.integers(0, 5, no)]),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _strs(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": _strs(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    return out


def fixture_dir(rng, out, sf):
    """A full fixture directory (every table the registry reads) at `sf`."""
    os.makedirs(out, exist_ok=True)
    tables = star_tables(rng, sf)
    tables["events"] = events_table(rng, int(1000000 * sf), int(15000 * sf))
    tables["documents"] = documents_table(rng, int(50000 * sf))
    tables["embeddings"] = embeddings_table(rng, max(500, int(20000 * sf)))
    for name, t in tables.items():
        _write(t, os.path.join(out, name + ".parquet"))
    return {"dir": out, "rows": {k: t.num_rows for k, t in tables.items()}}


# --------------------------------------------------------------------------
# per-workload inputs
# --------------------------------------------------------------------------

SEARCH_BLOCKS = 20


def gen_search_serving(seed, out):
    import searchgen
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    tables = {
        "events": events_table(rng, 10000, 150),
        "documents": documents_table(rng, 500),
        "embeddings": embeddings_table(rng, 500),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out, name + ".parquet"))
    requests = searchgen.requests(rng, SEARCH_BLOCKS)
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(requests, f, indent=1, sort_keys=True)
    return {"dir": out, "requests": len(requests)}


ETL_JOBS = 8
ETL_EVENTS = 100000


def gen_asset_etl(seed, out):
    """One base sf0.1 events table, then one fresh input file per job: a
    bootstrap resample of the base rows (kept in time order) with users
    and `k` re-drawn for a quarter of them and per-row time jitter, so the
    files differ but keep the base's shape."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    base = events_table(rng, ETL_EVENTS, 1500)
    cols = {c: base.column(c).to_numpy(zero_copy_only=False) for c in base.column_names}
    files = []
    for j in range(ETL_JOBS):
        pick = np.sort(rng.choice(ETL_EVENTS, ETL_EVENTS, replace=True))
        jitter = rng.integers(0, 1_000_000, ETL_EVENTS).astype("timedelta64[us]")
        users = cols["user_id"][pick].copy()
        redraw = rng.random(ETL_EVENTS) < 0.25
        users[redraw] = rng.integers(0, 1500, int(redraw.sum()))
        props = cols["props"][pick].copy()
        props[redraw] = ['{"k": %d}' % v for v in rng.integers(0, 100, int(redraw.sum()))]
        t = pa.table({
            "event_id": pa.array(np.arange(ETL_EVENTS, dtype=np.int64) + j * 10_000_000),
            "ts": pa.array(cols["ts"][pick] + jitter, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(cols["event_type"][pick].tolist(), pa.string()),
            "value": pa.array(cols["value"][pick]),
            "props": pa.array(props.tolist(), pa.string()),
        })
        d = os.path.join(out, "job-%02d" % j)
        os.makedirs(d, exist_ok=True)
        _write(t, os.path.join(d, "events.parquet"))
        files.append(d)
    return {"dir": out, "jobs": files, "rows_per_job": ETL_EVENTS}


SYNC_DOCS = 200000
SYNC_ROUNDS = 21
SYNC_UPDATES = SYNC_DOCS // 100
SYNC_NEW = SYNC_DOCS // 400
ASSET_TYPES = ["service", "container", "k8s.pod", "k8s.node"]
ASSET_COLS = ["asset_ts", "asset_ean", "asset_type", "asset_id", "asset_name",
              "asset_parents", "asset_children", "asset_references",
              "service_environment", "cloud_provider", "orchestrator_cluster_name"]
SYNC_T0_US = int(np.datetime64("2024-02-01T00:00:00", "us").astype(np.int64))


def doc_crc(row):
    """CRC-32 of one asset doc in the canonical text form the sync read
    aggregates: fields '|'-joined, NULL as '~', the timestamp as epoch
    microseconds."""
    parts = [str(row[0])] + ["~" if v is None else v for v in row[1:]]
    return zlib.crc32("|".join(parts).encode())


def _asset_rows(rng, ids, version):
    """Conformed asset docs for integer asset ids `ids` at `version`."""
    n = len(ids)
    env = np.array(["prod", "dev", None], dtype=object)[rng.integers(0, 3, n)]
    cloud = np.array(["aws", "gcp", None], dtype=object)[rng.integers(0, 3, n)]
    cluster = np.array(["cl-0", "cl-1", None], dtype=object)[rng.integers(0, 3, n)]
    nparent = rng.integers(0, 4, n)
    parent_ids = np.sort(rng.integers(0, SYNC_DOCS, (n, 3)), axis=1)
    ts = SYNC_T0_US + version * 60_000_000 + rng.integers(0, 60_000_000, n)
    rows = []
    for j, i in enumerate(ids):
        t = ASSET_TYPES[i % 4]
        aid = "%s-%07d" % (t.replace("k8s.", ""), i)
        parents = "|".join("k8s.node:node-%07d" % p for p in parent_ids[j, :nparent[j]])
        rows.append((int(ts[j]), "%s:%s" % (t, aid), t, aid, "%s v%d" % (aid, version),
                     parents or None, None if i % 3 else "", None,
                     env[j], cloud[j], cluster[j]))
    return rows


def _rows_table(rows):
    cols = list(zip(*rows))
    data = {"asset_ts": pa.array(np.array(cols[0], dtype="datetime64[us]"),
                                 pa.timestamp("us", tz="UTC"))}
    for c, vals in zip(ASSET_COLS[1:], cols[1:]):
        data[c] = pa.array(list(vals), pa.string())
    return pa.table(data)


def gen_asset_sync(seed, out):
    """A published state of SYNC_DOCS conformed asset docs, then per round
    one upsert batch: ~1% updates drawn with a Zipf key skew (hot keys are
    updated again and again) plus ~0.25% brand-new EANs. The model is the
    expected per-type (doc_count, crc sum) of the live state after each
    round, which the read after that round must reproduce."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    rows = _asset_rows(rng, list(range(SYNC_DOCS)), 0)
    _write(_rows_table(rows), os.path.join(out, "state.parquet"))
    live = {r[1]: r for r in rows}
    agg = {t: [0, 0] for t in ASSET_TYPES}
    for r in rows:
        agg[r[2]][0] += 1
        agg[r[2]][1] += doc_crc(r)
    hot = rng.permutation(SYNC_DOCS)
    weights = 1.0 / np.arange(1, SYNC_DOCS + 1) ** 1.1
    weights /= weights.sum()
    next_id = SYNC_DOCS
    model, batches = [], []
    for r in range(1, SYNC_ROUNDS + 1):
        upd = hot[rng.choice(SYNC_DOCS, SYNC_UPDATES, replace=False, p=weights)]
        new = list(range(next_id, next_id + SYNC_NEW))
        next_id += SYNC_NEW
        batch = _asset_rows(rng, sorted(int(i) for i in upd) + new, r)
        for b in batch:
            old = live.get(b[1])
            if old is not None:
                agg[old[2]][0] -= 1
                agg[old[2]][1] -= doc_crc(old)
            live[b[1]] = b
            agg[b[2]][0] += 1
            agg[b[2]][1] += doc_crc(b)
        p = os.path.join(out, "batch-%02d.parquet" % r)
        _write(_rows_table(batch), p)
        batches.append(p)
        model.append({t: list(v) for t, v in agg.items()})
    user_bytes = sum(os.path.getsize(p) for p in batches)
    return {"dir": out, "state": os.path.join(out, "state.parquet"), "batches": batches,
            "model": model, "state_docs": SYNC_DOCS,
            "batch_rows": SYNC_UPDATES + SYNC_NEW, "batch_bytes": user_bytes // len(batches)}


LIBRARY_SF = 0.1


def gen_library_mix(seed, out):
    import library
    rng = np.random.default_rng([seed, 4])
    man = fixture_dir(rng, out, LIBRARY_SF)
    man["draw"] = library.draw(rng)
    return man


GENERATORS = {
    "search_serving": gen_search_serving,
    "asset_etl": gen_asset_etl,
    "asset_sync": gen_asset_sync,
    "library_mix": gen_library_mix,
}


def generate(workload, seed, out):
    man = GENERATORS[workload](seed, out)
    man["workload"], man["seed"] = workload, seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, sort_keys=True)
    return man
