"""Seeded input tables for the benchmark.

Two table sets are written as parquet, both fully determined by the seed:

* ``gates/``: the ten fixture tables the ``SparkEntry.queries`` gates read
  (region … embeddings), with the exact schemas ``FixtureSchemas`` asserts,
  at the sf0.1 row counts (``orders`` 150k, ``lineitem`` 600k, ``events``
  100k, ``documents`` 5k, ``embeddings`` 2k).
* ``http/``: the three tables the page fixture serves (``orders`` 150k,
  ``lineitem`` 600k, ``events`` 100k rows), each with an RFC 3339
  ``updated_at`` cursor column. The same rows are also written as headerless
  CSV for the fixture, which loads them without Spark.
"""
import calendar
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["cold", "small", "large", "hot", "blue", "red", "green", "old"]
NOUN = ["widget", "bolt", "gear", "nut", "panel", "valve"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = calendar.timegm((1995, 1, 1, 0, 0, 0)) * 1_000_000
EPOCH_2024 = calendar.timegm((2024, 1, 1, 0, 0, 0)) * 1_000_000
TS = pa.timestamp("us")


def _write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def flush(out_dir):
    """Writes the files of ``out_dir`` back to disk now, so the kernel does
    not do it later inside a timed region."""
    for name in os.listdir(out_dir):
        fd = os.open(os.path.join(out_dir, name), os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _orders(rng, n, n_cust):
    days = rng.integers(0, 2404, n)
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
        "o_orderdate": EPOCH_1995 + days * DAY_US,
    }


def _lineitem(rng, n, n_orders, n_part, n_supp):
    price = np.round(rng.uniform(900, 100_000, n), 2)
    return {
        "l_orderkey": np.sort(rng.integers(0, n_orders, n)).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n) * DAY_US,
    }


def _events(rng, n, n_users):
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64) + 1
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 330, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _rfc3339(us):
    """Epoch micros → 'YYYY-MM-DDTHH:MM:SS.ffffffZ' strings."""
    return np.char.add(np.datetime_as_string(np.asarray(us).astype("datetime64[us]"), unit="us"), "Z")


def gate_tables(seed, out_dir):
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_emb = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000, 5_000, 2_000
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, len(ADJ), n_part),
                                                       rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    o = _orders(rng, n_ord, n_cust)
    o["o_orderpriority"] = rng.choice(PRIORITIES, n_ord)
    o["o_orderdate"] = pa.array(o["o_orderdate"], TS)
    t["orders"] = pa.table(o)
    li = _lineitem(rng, n_line, n_ord, n_part, n_supp)
    li["l_shipdate"] = pa.array(li["l_shipdate"], TS)
    t["lineitem"] = pa.table(li)
    ev = _events(rng, n_ev, 1_500)
    t["events"] = pa.table({
        "event_id": ev["event_id"], "ts": pa.array(ev["ts"], TS), "user_id": ev["user_id"],
        "event_type": ev["event_type"], "value": ev["value"],
        "props": [f'{{"k": {k}}}' for k in ev["k"]]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.06:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()), "text": texts,
        "lang": rng.choice(LANGS, n_doc), "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    _write(t, out_dir)


def http_tables(seed, out_dir):
    """The fixture's three streams. Orders and events are sorted by their
    cursor; lineitem by (l_orderkey, l_linenumber position)."""
    rng = np.random.default_rng([seed, 2])
    o = _orders(rng, 150_000, 15_000)
    # a per-order time of day so the cursor is nearly unique
    o["updated_at"] = _rfc3339(o["o_orderdate"] + rng.integers(0, DAY_US, 150_000))
    del o["o_orderdate"]
    order = np.argsort(o["updated_at"], kind="stable")
    orders = pa.table({k: v[order] for k, v in o.items()})
    li = _lineitem(rng, 600_000, 150_000, 20_000, 1_000)
    li["l_shipdate"] = _rfc3339(li["l_shipdate"])
    lineitem = pa.table(li)
    ev = _events(rng, 100_000, 1_500)
    ev["updated_at"] = _rfc3339(ev.pop("ts"))
    ev["tag"] = rng.choice(WORDS, 100_000)
    events = pa.table(ev)
    tables = {"orders": orders, "lineitem": lineitem, "events": events}
    _write(tables, out_dir)
    opts = pacsv.WriteOptions(include_header=False, quoting_style="none")
    for name, t in tables.items():
        pacsv.write_csv(t, os.path.join(out_dir, f"{name}.csv"), opts)
