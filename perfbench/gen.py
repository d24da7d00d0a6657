"""Seeded input generator for the benchmark.

Writes the star-schema tables the workloads read (`region`, `part`,
`orders`, `lineitem`, `events`, `documents`) as one parquet file each,
in the layout `graft.core.Tables` loads, calibrated against the
engine's sf0.1 fixture: the same physical types, value domains, key
ranges, row counts, join fan-outs and filter selectivities (100k events
over 30 days and 1,500 users, 600k lineitem, 150k orders, 20k parts, 5k
documents of 10-99 words from a 30-word vocabulary, a twentieth of them
near copies). `calibrate.py` compares the two statistic by statistic;
README.md records the result. Every value is drawn from one numpy PCG64
stream seeded by `--seed`, so one seed always gives byte-identical
inputs.

    python3 perfbench/gen.py OUT_DIR --seed 1
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000

SIZES = dict(part=20_000, orders=150_000, lineitem=600_000, events=100_000,
            documents=5_000, users=1_500, customers=15_000, suppliers=1_000)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.412, 0.147, 0.147, 0.147, 0.147]

EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng, values, n, p=None):
    """Strings drawn from `values` as an arrow dictionary-decoded column."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed):
    """Every table: dict of table name -> pyarrow.Table."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})

    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n["part"]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    ok = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customers"], n["orders"]),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(EPOCH_1995
                           + rng.integers(0, 2405, n["orders"]) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])})

    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["suppliers"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["O", "F"], m),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, m) * DAY_US)})

    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + EPOCH_2024
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], e)})

    t["documents"] = _documents(rng, n["documents"])
    return t


def _documents(rng, n):
    """Random-word documents of 10-99 words; a twentieth of them are
    near copies (another document plus the word `dup`), whose sources
    are drawn from the whole corpus, so a few near copies share a
    source and are exact copies of each other, as in sf0.1."""
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def generate(out_dir, seed, names):
    """Write the tables in `names` under `out_dir`; returns
    {table: {"rows": n, "bytes": on-disk bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables(seed).items():
        if name in names:
            path = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(t, path)
            sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


if __name__ == "__main__":
    import argparse
    import json
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, ("region", "part", "orders", "lineitem", "events", "documents"))))
