"""Seeded input generator for the benchmark.

Every input the engine sees is made here from a seed, with numpy's PCG64
generator and pyarrow's parquet writer, so the same seed gives byte-identical
files. The tables follow the schema of the engine's synthetic TPC-H-like
corpus (see FIXTURES.md, section B): same column names, types and value
domains.

Two input sets exist:

- ``months``: the EP1 pipeline's per-month directories, each one lineitem
  file (with planted nulls, duplicates and out-of-range rows for the quality
  and clean stages) plus a small events file for the hourly-demand report;
- ``tables``: the full star schema for the registry query mix, with planted
  exact and near duplicates in its documents table. Its seed is fixed, so
  the per-query digests recorded in ``mix.json`` hold.

Each set is written once per seed and size under
``<root>/<kind>-<seed>-<size>/``, with a ``manifest.json`` that records row
and byte counts, the clean and IQR drop shares and the planted duplicate
shares.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "big"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Per-table stream ids: each table draws from its own generator, so a
# change to one table's recipe leaves the others' bytes unchanged.
_STREAMS = {name: i for i, name in enumerate(
    ["lineitem", "orders", "customer", "supplier", "part", "events",
     "documents", "embeddings", "dirty", "month"])}

MIX_SEED = 42  # the query-mix tables are fixed; the run seed orders the mix


def rng_for(seed, table, extra=0):
    return np.random.default_rng([int(seed), _STREAMS[table], int(extra)])


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _day_us(days_since_1995):
    return (np.datetime64("1995-01-01", "us").astype(np.int64)
            + days_since_1995.astype(np.int64) * 86_400_000_000)


def lineitem(rng, n, n_orders, n_parts, n_supp):
    """Clean lineitem rows in the corpus's value domains."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, n), 2)
    price = np.round(qty * unit, 2)
    lines = rng.integers(1, 8, n).astype(np.int32)
    return {
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lines,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _day_us(rng.integers(0, 2500, n)),
    }


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us"))])


def dirty_lineitem(rng, cols, null_share=0.005, dup_share=0.005, bad_share=0.01):
    """Plant the faults EP1's quality and clean stages exist for: nulls in
    the critical columns, exact duplicate rows and out-of-range values."""
    n = len(cols["l_quantity"])
    bad = rng.random(n) < bad_share
    cols["l_quantity"] = np.where(bad, rng.choice([0.0, 60.0, -3.0], n), cols["l_quantity"])
    bad = rng.random(n) < bad_share
    cols["l_extendedprice"] = np.where(bad, rng.choice([-5.0, 250000.0], n),
                                       cols["l_extendedprice"])
    nulls = {c: rng.random(n) < null_share for c in ("l_quantity", "l_extendedprice")}
    dups = np.flatnonzero(rng.random(n) < dup_share)
    src = rng.integers(0, n, len(dups))
    for v in list(cols.values()) + list(nulls.values()):
        v[dups] = v[src]
    table = _lineitem_table(cols)
    for c, mask in nulls.items():
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, pa.array(cols[c], mask=mask))
    return table


def drop_shares(table):
    """Share of rows EP1's clean rules drop, and the share of the rest the
    IQR filter on l_extendedprice drops (computed with exact quartiles; the
    pipeline's production path uses approximate ones)."""
    q = table.column("l_quantity").to_numpy(zero_copy_only=False)
    p = table.column("l_extendedprice").to_numpy(zero_copy_only=False)
    d = table.column("l_discount").to_numpy()
    t = table.column("l_tax").to_numpy()
    with np.errstate(invalid="ignore"):
        keep = ((q > 0) & (q < 50) & (p > 0) & (p < 100000)
                & (d >= 0) & (d <= 0.08) & (t >= 0) & (t <= 0.06))
    kept = p[keep]
    q1, q3 = np.percentile(kept, [25, 75])
    iqr = q3 - q1
    inside = (kept >= q1 - 1.5 * iqr) & (kept <= q3 + 1.5 * iqr)
    return {"clean_drop_share": float(1 - keep.mean()),
            "iqr_drop_share": float(1 - inside.mean())}


def _lineitem_table(cols):
    arrays = [pa.array(cols[f.name]) if f.name != "l_shipdate" else _ts(cols[f.name])
              for f in LINEITEM_SCHEMA]
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def events(rng, n, n_users=150):
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _texts(rng, n, min_len=10, max_len=100):
    lens = rng.integers(min_len, max_len, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in toks[at:at + ln]))
        at += ln
    return out


def documents(rng, n, exact_share=0.05, near_share=0.05):
    """Documents with planted duplicates. Exact duplicates copy an earlier
    doc verbatim; near duplicates copy one and replace a single token."""
    texts = _texts(rng, n)
    kind = rng.random(n)
    exact = np.zeros(n, bool)
    near = np.zeros(n, bool)
    for i in range(10, n):
        if kind[i] < exact_share:
            texts[i] = texts[int(rng.integers(0, i))]
            exact[i] = True
        elif kind[i] < exact_share + near_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            pos = int(rng.integers(0, len(words)))
            words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
            near[i] = True
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, {"exact_dup_share": float(exact.mean()),
                   "near_dup_share": float(near.mean())}


def star_schema(seed, sf):
    """The full table set at scale factor ``sf`` (lineitem = 6M·sf rows),
    and the planted duplicate shares of its documents table."""
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    r = rng_for(seed, "orders")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "P", "O"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_day_us(r.integers(0, 2404, n_ord))),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)]),
    })
    r = rng_for(seed, "customer")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
    })
    r = rng_for(seed, "supplier")
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    r = rng_for(seed, "part")
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(50_000 * sf))
    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    docs, dup_shares = documents(rng_for(seed, "documents"), n_docs)
    li = _lineitem_table(lineitem(rng_for(seed, "lineitem"), n_li, n_ord, n_part, n_supp))
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": li,
            "events": events(rng_for(seed, "events"), max(1000, int(1_000_000 * sf))),
            "documents": docs, "embeddings": embeddings}, dup_shares


def write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _build(kind, seed, dest, size):
    """Write one input set into ``dest``; returns its manifest."""
    os.makedirs(dest)
    files = {}
    extra = {}
    if kind == "months":
        for m in range(size["months"]):
            d = os.path.join(dest, f"month{m}")
            os.makedirs(d)
            r = rng_for(seed, "month", m)
            cols = lineitem(r, size["rows"], size["rows"] // 4, 20_000, 1_000)
            li = dirty_lineitem(rng_for(seed, "dirty", m), cols)
            write(li, os.path.join(d, "lineitem.parquet"))
            extra[f"month{m}"] = drop_shares(li)
            write(events(rng_for(seed, "events", m), size["events"]), os.path.join(d, "events.parquet"))
            files[f"month{m}/lineitem.parquet"] = size["rows"]
            files[f"month{m}/events.parquet"] = size["events"]
    elif kind == "tables":
        tables, extra = star_schema(seed, size["sf"])
        for name, t in tables.items():
            write(t, os.path.join(dest, f"{name}.parquet"))
            files[f"{name}.parquet"] = t.num_rows
    else:
        raise ValueError(f"unknown input kind {kind}")
    manifest = {"kind": kind, "seed": seed, "size": size, **extra,
                "files": {rel: {"rows": rows, "bytes": os.path.getsize(os.path.join(dest, rel))}
                          for rel, rows in files.items()}}
    with open(os.path.join(dest, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def ensure(root, kind, seed, size):
    """The input set for (kind, seed, size), built on first use. A set is
    made in a temporary directory and renamed into place when complete, so
    an interrupted build is never mistaken for a cached one."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    dest = os.path.join(root, f"{kind}-{seed}-{tag}")
    if not os.path.exists(os.path.join(dest, "manifest.json")):
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)
        _build(kind, seed, tmp, size)
        os.rename(tmp, dest)
    with open(os.path.join(dest, "manifest.json")) as f:
        return dest, json.load(f)
