"""Seeded input tables for the benchmark.

The tables have the schema, value ranges and layout of the repository's
synthetic star-schema fixture (one parquet file per table, one row group
per file), scaled by `sf`: at sf=0.1, lineitem has 600,000 rows. The seed
decides every value, so the same (seed, sf) always yields the same bytes
of data. Documents carry planted near-duplicates (a copy of an earlier
document with one token appended) and a few exact copies, like the
fixture, so the dedup operators find work.

`write` caches by (seed, sf); change GEN_VERSION when the generated
values change, so stale inputs are not reused.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
GEN_VERSION = 2


def _day_ts(rng, n, lo, hi):
    """n midnight timestamps drawn uniformly from the days in [lo, hi]."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # exactly 5% near-duplicates (an earlier original plus one token) and
    # 0.2% exact copies, at seeded positions. Copies are taken only from
    # originals, so every duplicate component is a star around its
    # original: the work the dedup operators do (pair counts, component
    # rounds) does not swing with the seed.
    n_near, n_exact = round(0.05 * n), round(0.002 * n)
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for j, i in enumerate(copies):
        src = originals[originals < i]
        texts[i] = texts[int(src[rng.integers(0, len(src))])] + (" dup" if j < n_near else "")
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def build(seed, sf):
    """Return {table: pyarrow.Table} for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(base * sf))) for t, base in (
        ("customer", 150_000), ("supplier", 10_000), ("part", 200_000),
        ("orders", 1_500_000), ("lineitem", 6_000_000), ("events", 1_000_000),
        ("documents", 50_000))}
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": ["Customer#%09d" % i for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"), k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": ["Supplier#%09d" % i for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": _money(rng, k, -999.99, 9999.99)})
    k = n["part"]
    adj = ("large", "hot", "blue", "old", "cold", "red", "small", "new",
           "green", "shiny", "dull", "tiny", "heavy")
    noun = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": [adj[a] + " " + noun[b] for a, b in zip(
            rng.integers(0, len(adj), k), rng.integers(0, len(noun), k))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, k)],
        "p_type": _choice(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"), k),
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"), k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), k),
        "l_linestatus": _choice(rng, ("F", "O"), k),
        "l_shipdate": _day_ts(rng, k, "1995-01-02", "2001-11-04")})
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": np.sort(start + rng.integers(0, span_us, k).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), k), i64),
        "event_type": _choice(rng, ("click", "error", "purchase", "signup",
                                    "view"), k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": ['{"k": %d}' % v for v in rng.integers(0, 100, k)]})
    t["documents"] = pa.table(_documents(rng, n["documents"]))
    return t


def write(out_dir, seed, sf):
    """Write every table as <out_dir>/<table>.parquet (one row group each)
    and return {table: {"rows": n, "bytes": file size}}. Skips the work when
    the directory already holds this (seed, sf); otherwise clears it first,
    dropping anything derived from older inputs."""
    stamp = os.path.join(out_dir, "inputs.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            meta = json.load(f)
        if (meta.get("seed"), meta.get("sf"), meta.get("version")) == (seed, sf, GEN_VERSION):
            return meta["tables"]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    info = {}
    for name, table in build(seed, sf).items():
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(stamp, "w") as f:
        json.dump({"seed": seed, "sf": sf, "version": GEN_VERSION, "tables": info}, f)
    return info
