"""Seeded generator for the engine's input tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``), one parquet file per table.

The shapes and value domains follow FIXTURES.md section 3 at scale factor
``sf`` (row counts are sf-proportional, as in the reference data). Values are
uniform draws over the documented domains, timestamps are naive
``timestamp[us]`` (Spark reads them as TIMESTAMP_NTZ, which the engine's
loader handles), and about one document in twenty is a near-duplicate of an
earlier one so the dedup operators have work to do.

``lineitem_slice`` builds the versioned-table input of the
``table_lifecycle`` workload: lineitem-shaped rows with a unique ``l_id`` key
and integral quantities (so sums are exact in any order).
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

US_PER_DAY = 86400 * 1000000
DAY_1995 = 9131  # days since epoch of 1995-01-01
DAY_2024 = 19723  # 2024-01-01


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)].tolist(),
                    pa.string())


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts_days(days):
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(50, int(50000 * sf)), max(20, int(20000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = np.asarray(ADJ, dtype=object)[rng.integers(0, len(ADJ), n_part)]
    noun = np.asarray(NOUN, dtype=object)[rng.integers(0, len(NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array((adj + " " + noun).tolist(), pa.string()),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(DAY_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = _lineitem(rng, n_li, n_ord, n_part, n_supp)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(DAY_2024 * US_PER_DAY
                               + rng.integers(0, 30 * US_PER_DAY, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _cents(rng, 0.0, 560.0, n_ev),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)], pa.string())})
    out["documents"] = _documents(rng, n_doc)
    # labels carry almost no signal, as in the reference data: vectors are
    # near-uniform on the sphere, with a faint per-label offset
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.07 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def _lineitem(rng, n, n_ord, n_part, n_supp):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_days(DAY_1995 + 1 + rng.integers(0, 2498, n))})


def _documents(rng, n):
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.05:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(base) // 20)):
                base[int(rng.integers(0, len(base)))] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(base) + " dup")  # near-duplicate
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def lineitem_slice(seed, rows, id_base=0):
    """Lineitem-shaped rows with a unique ``l_id`` in [id_base, id_base+rows)."""
    rng = np.random.default_rng(seed)
    t = _lineitem(rng, rows, 150000, 20000, 1000)
    return t.add_column(0, "l_id", pa.array(np.arange(id_base, id_base + rows), pa.int64()))


def write(tabs, out_dir, names=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        if names is None or name in names:
            pq.write_table(tab, os.path.join(out_dir, name + ".parquet"))


def main(argv):
    if len(argv) != 4:
        sys.stderr.write("usage: gen_tables.py <seed> <sf> <out_dir>\n")
        return 2
    write(tables(int(argv[1]), float(argv[2])), argv[3])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
