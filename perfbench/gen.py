"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical Arrow tables and the same statement stream. Tables follow
the TPC-H-shaped schema of the engine's test tables (column names,
physical types and key ranges that ``Engine.register_parquet_dir`` links
and keys), scaled by ``sf`` the way TPC-H scales.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "spark line column order small sort fast value scan a hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector join index page"
).split()
CITIES = ["rome", "oslo", "lima", "pune", "kyiv", "baku", "doha", "riga"]
DAY_US = 86_400_000_000
_BASE_1995 = int(np.datetime64("1995-01-01", "us").astype("int64"))


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent PCG64 stream per (seed, table) pair."""
    return np.random.default_rng([seed, stream])


class Zipf:
    """Zipf-skewed ranks over [0, n): rank r has weight 1/(r+1)^s. A caller
    maps ranks to keys through a fixed permutation, so the hot keys are
    spread over the key space but stay the same for the whole stream."""

    def __init__(self, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()

    def rank(self, rng: np.random.Generator) -> int:
        return min(int(np.searchsorted(self.cdf, rng.random())), len(self.cdf) - 1)


# -- TPC-H-shaped tables -------------------------------------------------------


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer and orders at TPC-H scale factor ``sf``."""
    n_cust = max(int(150_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 200)

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    rng = _rng(seed, 1)
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    rng = _rng(seed, 3)
    odate = _BASE_1995 + rng.integers(0, 2404, n_orders) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- oltp_mixed: person documents and the statement stream --------------------


def person_table(seed: int, n: int) -> pa.Table:
    """(pid, name, age, city) for the bulk-loaded ``person`` class."""
    rng = _rng(seed, 10)
    return pa.table(
        {
            "pid": pa.array(np.arange(n, dtype="int64")),
            "name": [f"p{i:06d}" for i in range(n)],
            "age": pa.array(rng.integers(18, 90, n), pa.int32()),
            "city": pa.array(np.array(CITIES)[rng.integers(0, len(CITIES), n)]),
        }
    )


# One oltp block: 20 reads, five of each kind, and 4 writes in a fixed order,
# so every run does the same kinds of work in the same sequence and the
# engine's state-dependent costs (plan-cache invalidation by writes,
# copy-on-write lineage growth) repeat run to run. The first read after each
# write is a key lookup on the written ``person`` class. Five reads of a
# kind per block give its median some protection from one slow call. The
# seed picks every key, value and record.
BLOCK = (
    "key_lookup", "rid_get", "dict_get", "link_nav", "rid_get", "insert",
    "key_lookup", "dict_get", "link_nav", "rid_get", "dict_get", "update",
    "key_lookup", "link_nav", "rid_get", "dict_get", "link_nav", "delete",
    "key_lookup", "rid_get", "dict_get", "link_nav", "key_lookup", "tx_group",
)
READS = frozenset({"rid_get", "key_lookup", "link_nav", "dict_get"})


def oltp_blocks(seed: int, n_cust: int, n_orders: int, n_person: int):
    """The seeded statement stream, one block (a list of plain dicts the
    workload executes and the Python model replays) per ``next()``, without
    end. Keys are Zipf-skewed so repeated statement texts recur (the
    plan-cache path). Writes target live person records only, so the one
    expected failure is the conflicting commit of each ``tx_group``: three
    optimistic transactions open together, the first and third updating
    the same record and the second another one."""
    rng = _rng(seed, 11)
    cust_keys, order_keys = rng.permutation(n_cust), rng.permutation(n_orders)
    cust_z, order_z, person_z = Zipf(n_cust), Zipf(n_orders), Zipf(n_person)
    live = list(range(n_person))  # pids present, oldest first: the hot ones
    next_pid = n_person

    def hot_person() -> int:
        return live[person_z.rank(rng) % len(live)]

    def age() -> int:
        return int(rng.integers(18, 90))

    while True:
        block: list[dict] = []
        for kind in BLOCK:
            op: dict = {"kind": kind}
            if kind in ("rid_get", "dict_get"):
                op["key"] = int(cust_keys[cust_z.rank(rng)])
            elif kind == "link_nav":
                op["key"] = int(order_keys[order_z.rank(rng)])
            elif kind == "key_lookup":
                op["key"] = hot_person()
            elif kind == "insert":
                op.update(pid=next_pid, name=f"n{next_pid:06d}", age=age(),
                          city=CITIES[int(rng.integers(0, len(CITIES)))])
                live.append(next_pid)
                next_pid += 1
            elif kind == "update":
                op.update(pid=hot_person(), age=age())
            elif kind == "delete":
                op["pid"] = live.pop(int(rng.integers(0, len(live))))
            else:  # tx_group: records a != b
                a, b = (live[int(i)] for i in rng.choice(len(live), 2, replace=False))
                op.update(pid_a=a, pid_b=b, ages=(age(), age(), age()))
            block.append(op)
        yield block


# -- pipeline_dedup: documents with planted near-duplicates, embeddings -------


def documents(seed: int, n_docs: int, n_dups: int) -> tuple[pa.Table, set[tuple[int, int]]]:
    """Random texts over the engine corpus vocabulary plus ``n_dups`` planted
    copies, each a source doc with one word replaced. Returns the table and
    the planted (source_id, copy_id) pairs. Sources are at least 120 words,
    so one changed word keeps the 3-shingle Jaccard near 0.95: far above
    the 0.8 threshold, and found by 8 LSH bands of 4 rows with a miss
    chance of about 1e-6 per pair."""
    rng = _rng(seed, 20)
    vocab = np.array(VOCAB)
    base = n_docs - n_dups
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))]) for k in rng.integers(8, 100, base)]
    sources = rng.choice(base, size=n_dups, replace=False)
    pairs: set[tuple[int, int]] = set()
    for j, src in enumerate(sources):
        words = texts[src].split()
        while len(words) < 120:  # long sources keep the copy's Jaccard near 0.95
            words.append(str(vocab[rng.integers(0, len(vocab))]))
        texts[src] = " ".join(words)
        pos = int(rng.integers(0, len(words)))
        words = list(words)
        words[pos] = "zzcopy" + str(j)
        texts.append(" ".join(words))
        pairs.add((int(src), base + j))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
            "text": texts,
            "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )
    return table, pairs


def embeddings(seed: int, n_vecs: int, n_dups: int, dim: int = 32) -> tuple[pa.Table, set[tuple[int, int]]]:
    """Unit-norm float32 vectors in 10 labelled clusters plus ``n_dups``
    planted near-copies (cosine > 0.999 to their source, same label).
    Returns the table and the planted (source_id, copy_id) pairs."""
    rng = _rng(seed, 21)
    base = n_vecs - n_dups
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, base)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(base, dim))
    sources = rng.choice(base, size=n_dups, replace=False)
    copies = vecs[sources] + rng.normal(scale=1e-3, size=(n_dups, dim))
    vecs = np.vstack([vecs, copies])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    labels = np.concatenate([labels, labels[sources]]).astype("int32")
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pairs = {(int(s), base + j) for j, s in enumerate(sources)}
    return table, pairs
