"""Seeded synthetic tables with the schema, types and value ranges of the
repository's star-schema test data (region ... lineitem, events, documents,
embeddings). One seed gives the same files; each table draws from its own
stream of the seed, so staging a subset changes nothing."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
         "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
         "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch"]

# rows per table at sf 1 (the test data's sf0.1 counts x 10)
BASE = {"customer": 150000, "supplier": 10000, "part": 200000, "orders": 1500000,
        "lineitem": 6000000, "events": 1000000, "documents": 50000, "embeddings": 20000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
US_PER_DAY = 86400 * 1000000


def rows(table, sf):
    return max(1, round(BASE[table] * sf))


def _epoch_us(day):
    return int(np.datetime64(day, "us").astype(np.int64))


def _pick(rng, choices, n):
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(rng, first, days, n):
    return pa.array(_epoch_us(first) + rng.integers(0, days, n) * US_PER_DAY, pa.timestamp("us"))


def _table(name, rng, sf):
    n = rows(name, sf) if name in BASE else 0
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                         "n_regionkey": k % 5})
    if name == "customer":
        return pa.table({
            "c_custkey": ids, "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.85, 9999.8, n),
            "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                        "FURNITURE"], n)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids, "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.85, 9999.8, n)})
    if name == "part":
        adj = np.array(["large", "hot", "blue", "red", "new", "small", "cold", "old"], dtype=object)
        noun = np.array(["ring", "bolt", "anvil", "rod", "plate", "gear", "nut"], dtype=object)
        return pa.table({
            "p_partkey": ids,
            "p_name": pa.array(adj[rng.integers(0, 8, n)] + " " + noun[rng.integers(0, 7, n)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n),
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900 + (ids % 1000) / 10, 2)})
    if name == "orders":
        return pa.table({
            "o_orderkey": ids, "o_custkey": rng.integers(0, rows("customer", sf), n),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], n)})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, rows("orders", sf), n),
            "l_partkey": rng.integers(0, rows("part", sf), n),
            "l_suppkey": rng.integers(0, rows("supplier", sf), n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["O", "F"], n),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n)})
    if name == "events":
        ts = _epoch_us("2024-01-01") + rng.integers(0, 30 * US_PER_DAY, n)
        return pa.table({
            "event_id": ids, "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n * 15 // 1000), n),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.random(n) * rng.random(n) * 560, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        # 5 % near-duplicates (an earlier document's text plus " dup") and
        # 0.2 % exact duplicates, as in the test data
        texts = []
        for i in range(n):
            kind = rng.integers(0, 1000)
            if i > 0 and kind < 52:
                src = texts[rng.integers(0, i)]
                texts.append(src + " dup" if kind < 50 else src)
            else:
                texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101))))
        langs = np.where(rng.random(n) < 0.4, "en",
                         np.array(["zh", "de", "fr", "es"])[rng.integers(0, 4, n)])
        return pa.table({"doc_id": ids, "text": texts, "lang": langs.astype(object),
                         "source": [f"src{i % 20}" for i in ids],
                         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        vecs = ((rng.random((n, 64)) - 0.5) * 0.43).astype(np.float32)
        return pa.table({"vec_id": ids,
                         "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64)
                         .cast(pa.list_(pa.float32())),
                         "label": rng.integers(0, 10, n, dtype=np.int32)})
    raise ValueError(name)


def stage(out_dir, seed, sf, only=TABLES):
    """Write each table as <out_dir>/<name>.parquet."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name in only:
            rng = np.random.default_rng([seed, i])
            pq.write_table(_table(name, rng, sf), out_dir / f"{name}.parquet")
