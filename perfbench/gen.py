"""Deterministic generator for the benchmark's input tables.

Writes the ten fixture tables the engine's registry reads (region, nation,
supplier, customer, part, orders, lineitem, events, documents, embeddings)
as single-row-group parquet files, with the schemas and value domains of
the engine's TPC-H-ish fixtures. Row counts scale with `sf` as the fixtures
do (lineitem ~= 6,000,000 x sf). The same (sf, seed) always gives the same
bytes, so expected query results can be committed next to the benchmark.

Two differences from the fixtures, both on purpose:
- (l_orderkey, l_linenumber) is a unique key (lines 1..k per order), so
  the store workload can upsert lineitem on it;
- no column holds NULL, so meta-table merges keyed on profile values
  always match.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query stream group filter vector").split()
ADJ = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
NOUN = ["ring", "widget", "bolt", "anvil", "gear", "nut", "spring", "valve"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01T00:00:00 in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in micros


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def tables(sf, seed):
    """The ten tables at scale factor `sf` as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 1)
    pnames = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pk, "p_name": _pick(rng, pnames, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": price})
    ok = np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(len(l_ord)) - starts + 1).astype(np.int32)
    n_li = len(l_ord)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    order = rng.permutation(n_li)   # fixture files are not key-sorted
    li = {
        "l_orderkey": l_ord, "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": l_num,
        "l_quantity": qty, "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": odate[l_ord] + rng.integers(1, 122, n_li) * DAY_US}
    out["lineitem"] = pa.table({
        k: (_ts(v[order]) if k == "l_shipdate" else pa.array(v[order]))
        for k, v in li.items()})
    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"],
                            n_ev, p=[0.5, 0.3, 0.1, 0.05, 0.05]),
        "value": np.round(rng.exponential(30.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    n_words = rng.integers(8, 100, n_docs)
    widx = rng.integers(0, len(WORDS), int(n_words.sum()))
    texts, at = [], 0
    for n in n_words:
        texts.append(" ".join(WORDS[i] for i in widx[at:at + n]))
        at += n
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_docs,
                      p=[0.6, 0.1, 0.1, 0.1, 0.1]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    label = rng.integers(0, 10, n_vec, dtype=np.int32)
    centre = rng.normal(0.0, 0.12, (10, 64))
    emb = (centre[label] + rng.normal(0.0, 0.06, (n_vec, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label})
    return out


def replicate(base, copies, share, seed):
    """`copies` concatenated replicas of every table. Replica r offsets each
    integer key column by r x (table's key span), and resamples `share` of
    the rows of every non-key column from the same column (seeded), so the
    replicas differ."""
    rng = np.random.default_rng(seed)
    keys = {"supplier": ["s_suppkey"], "customer": ["c_custkey"],
            "part": ["p_partkey"], "orders": ["o_orderkey"],
            "lineitem": ["l_orderkey"], "events": ["event_id"],
            "documents": ["doc_id"], "embeddings": ["vec_id"]}
    out = {}
    for name, t in base.items():
        if name not in keys:
            out[name] = t
            continue
        parts = []
        for r in range(copies):
            cols = {}
            for c in t.column_names:
                a = t.column(c).combine_chunks()
                if c in keys[name]:
                    v = a.to_numpy()
                    cols[c] = pa.array(v + r * (int(v.max()) + 1))
                elif r > 0 and share > 0:
                    n = len(a)
                    hit = rng.random(n) < share
                    src = np.where(hit, rng.integers(0, n, n), np.arange(n))
                    cols[c] = a.take(pa.array(src))
                else:
                    cols[c] = a
            parts.append(pa.table(cols, schema=t.schema))
        out[name] = pa.concat_tables(parts).combine_chunks()
    return out


def write(tabs, out_dir):
    """One single-row-group parquet file per table under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
