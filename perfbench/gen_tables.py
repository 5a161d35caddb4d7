"""Seeded generator for the batch workload's input tables.

Writes the TPC-H-shaped star schema plus the `events`, `documents` and
`embeddings` tables that the registry queries read, with the same column
names, types, categorical values and key ranges as the project's test data
(see TESTDATA.md and graft.GenData). Every value is drawn from one numpy
generator seeded by `--seed`, so a seed always gives byte-identical inputs.

The order calendar spans `ORDER_DAYS` days. x_theil_sen's pair join is
quadratic in that calendar, not in the row count, so the span sets that
query's share of a pass.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
ORDER_DAYS = 400
SHIP_DAYS = 1300


def _ts(base, days):
    return (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    """Word streams over VOCAB with planted duplicates at adjacent ids, the
    same residue classes as graft.GenData: id % 600 == 1 copies its
    predecessor, id % 20 == 7 appends one word to it."""
    words = []
    for i in range(n):
        if i > 0 and (i % 600 == 1 or i % 20 == 7):
            words.append(words[i - 1] + (" dup" if i % 20 == 7 else ""))
        else:
            length = 8 + int(rng.integers(0, 92))
            words.append(" ".join(_pick(rng, VOCAB, length)))
    text = np.asarray(words, dtype=object)
    lang = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)[
        np.searchsorted([0.41, 0.56, 0.71, 0.86], rng.random(n), side="right")]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in text), np.int64, n)),
    }


def _embeddings(rng, n):
    core = ((rng.random((n, 64)) + rng.random((n, 64)) - 1.0) * 0.3)
    near = (np.arange(n) % 100 == 1) & (np.arange(n) > 0)
    core[near] = core[np.nonzero(near)[0] - 1] + (rng.random((int(near.sum()), 64)) - 0.5) * 0.01
    vecs = core.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out_dir, seed, sf=0.01):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def n(base):
        return max(1, int(base * sf))

    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_line, n_event, n_user = n(1500000), n(6000000), n(1000000), n(15000)
    n_doc = n_vec = max(500, n(50000))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 11000 - 1000, 2)),
        "c_mktsegment": pa.array(_pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                             "HOUSEHOLD", "MACHINERY"], n_cust), pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.random(n_supp) * 11000 - 1000, 2))})
    p_name = [a + " " + b for a, b in zip(
        _pick(rng, ["large", "hot", "blue", "dark", "small", "shiny"], n_part),
        _pick(rng, ["anvil", "bolt", "cog", "plate", "widget"], n_part))]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(p_name, pa.string()),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                       "STANDARD"], n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + rng.random(n_part) * 100, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n_ord) * 499000, 2)),
        "o_orderdate": pa.array(_ts("1995-01-01", rng.integers(0, ORDER_DAYS, n_ord))),
        "o_orderpriority": pa.array(_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], n_ord), pa.string())})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900.0 + rng.random(n_line) * 104100, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_ts("1995-01-02", rng.integers(0, SHIP_DAYS, n_line)))})
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_event, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + rng.integers(0, 30 * 86400 * 10**6, n_event).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_event).astype(np.int64)),
        "event_type": pa.array(_pick(rng, ["click", "error", "purchase", "signup", "view"],
                                     n_event), pa.string()),
        "value": pa.array(np.round(rng.random(n_event) * 560, 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_event)])})
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec))
