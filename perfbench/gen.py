"""Seeded generator for the star-schema tables the query registry reads.

The ten tables (`region` .. `embeddings`) mirror the column names, Parquet
types and value domains of the repository's synthetic test tables, so every
query in `SparkEntry.queries` and its DuckDB oracle SQL run on them
unchanged. Sizes scale linearly with `sf` (sf 0.1: 600k lineitem rows).

The same (seed, sf) always gives the same rows: one numpy Generator per
table, seeded from (seed, table index), so tables are independent of each
other's draw counts.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "small", "large", "new", "old",
            "green"]
PART_NOUN = ["anvil", "ring", "widget", "bolt", "rod", "plate", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "big",
         "customer", "query", "filter", "group", "stream", "vector"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix, keys):
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], pa.string())


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(
        len(values), n, p=p)], pa.string())


def sizes(sf):
    """Row counts at scale factor `sf`."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def tables(seed, sf):
    """Generate every table as a {name: pyarrow.Table} dict."""
    n = sizes(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }

    r = _rng(seed, "customer")
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k, "c_name": _names("Customer#", k),
        "c_nationkey": r.integers(0, 25, k.size).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k.size),
        "c_mktsegment": _pick(r, SEGMENTS, k.size)})

    r = _rng(seed, "supplier")
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k, "s_name": _names("Supplier#", k),
        "s_nationkey": r.integers(0, 25, k.size).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k.size)})

    r = _rng(seed, "part")
    k = np.arange(n["part"], dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, len(PART_ADJ), k.size)]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, len(PART_NOUN), k.size)]
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k.size)]),
        "p_type": _pick(r, PART_TYPES, k.size),
        "p_size": r.integers(1, 51, k.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2)})

    r = _rng(seed, "orders")
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": r.integers(0, n["customer"], k.size, dtype=np.int64),
        "o_orderstatus": _pick(r, STATUSES, k.size),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k.size),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, k.size) * DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, k.size)})

    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, m).astype(np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, m),
        "l_discount": np.round(r.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], m),
        "l_linestatus": _pick(r, ["F", "O"], m),
        "l_shipdate": _ts(EPOCH_1995 + (1 + r.integers(0, 2499, m)) * DAY_US)})

    r = _rng(seed, "events")
    k = np.arange(n["events"], dtype=np.int64)
    slot = 30 * DAY_US // k.size
    out["events"] = pa.table({
        "event_id": k,
        "ts": _ts(EPOCH_2024 + k * slot + r.integers(0, slot, k.size)),
        "user_id": r.integers(0, max(10, n["events"] // 67), k.size,
                              dtype=np.int64),
        "event_type": _pick(r, EVENT_TYPES, k.size),
        "value": np.round(r.exponential(50.0, k.size), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k.size)])})

    out["documents"] = _documents(_rng(seed, "documents"), n["documents"])
    out["embeddings"] = _embeddings(_rng(seed, "embeddings"), n["embeddings"])
    return out


def _documents(r, n):
    """Random-word texts; 5 % are near-duplicates of an earlier text
    with a trailing "dup" token or two, which the dedup queries find."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            src = texts[int(r.integers(0, i))]
            texts.append(src + " dup" * int(r.integers(1, 3)))
        else:
            texts.append(" ".join(vocab[r.integers(0, len(VOCAB),
                                                   int(r.integers(10, 101)))]))
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": k, "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(r, n, dim=64, labels=10):
    """Unit vectors clustered around one centroid per label; 5 % are
    near-copies of an earlier vector (the embedding-dedup groups)."""
    cent = r.normal(0.0, 1.0, (labels, dim))
    label = r.integers(0, labels, n).astype(np.int32)
    vec = cent[label] + r.normal(0.0, 1.5, (n, dim))
    for i in range(11, n):
        if r.random() < 0.05:
            j = int(r.integers(0, i))
            vec[i] = vec[j] + r.normal(0.0, 0.01, dim)
            label[i] = label[j]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label})


def write(seed, sf, out_dir):
    """Write every table to `<out_dir>/<name>.parquet` (one row group,
    snappy, the layout of the test tables)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows),
                       compression="snappy")
