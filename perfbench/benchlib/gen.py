"""Seeded input generators in the fixture schema (FIXTURES.md).

Every table is a pure function of (seed, sizes): the same seed writes the
same bytes, and the seed varies content only, never row counts or the
duplicate shares. Column types match the fixture parquet exactly (INT64 /
INT32 / DOUBLE / UTF8, naive TIMESTAMP_MICROS, list<float>), so the engine
and the DuckDB oracles read the generated directory the way they read the
fixture.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05    # doc = an earlier doc's text + " dup"
EXACT_DUP_SHARE = 0.01   # doc = an earlier doc's text verbatim
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, base, lo, hi, n):
    return base + (rng.integers(lo, hi, n) * DAY_US).astype("timedelta64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)], pa.string())


def relational(out_dir, sf, rng):
    """The TPC-H-ish star schema plus `events` at scale factor `sf`."""
    n_li, n_ord, n_cust = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    n_supp, n_part, n_users = int(10_000 * sf), int(200_000 * sf), int(15_000 * sf)
    n_ev = int(1_000_000 * sf)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    _write(out_dir, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out_dir, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, EPOCH_1995, 0, 2404, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, EPOCH_1995, 1, 2500, n_li)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev}


def corpus(out_dir, n_docs, n_vecs, rng):
    """`documents` and `embeddings`: uniform 30-word vocabulary texts of 10-100
    tokens with a fixed near-duplicate and exact-duplicate share, and unit
    64-dim float embeddings with ten labels."""
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    # duplicate slots are drawn without replacement, and each copies a doc
    # that is not itself a copy, so the shares are exact for every seed
    n_near, n_exact = int(n_docs * NEAR_DUP_SHARE), int(n_docs * EXACT_DUP_SHARE)
    slots = rng.choice(np.arange(1, n_docs), n_near + n_exact, replace=False)
    is_copy = np.zeros(n_docs, bool)
    is_copy[slots] = True
    for k, slot in enumerate(slots):
        originals = np.flatnonzero(~is_copy[:slot])
        src = texts[originals[rng.integers(0, len(originals))]]
        texts[slot] = src + " dup" if k < n_near else src
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return {"documents": n_docs, "embeddings": n_vecs,
            "near_dup_docs": n_near, "exact_dup_docs": n_exact}


def fixture(out_dir, seed, sf, n_docs, n_vecs):
    """A complete fixture directory; returns the input sizes it wrote."""
    rng = np.random.default_rng(seed)
    sizes = relational(out_dir, sf, rng)
    sizes.update(corpus(out_dir, n_docs, n_vecs, rng))
    return sizes
