"""The benchmark workloads.

A workload is built once (inputs generated and ingested), warmed up, then
run in passes. A pass is a fixed list of operations, so any whole number of
passes carries the same mix; every operation is a closed loop call from the
one client thread. ``Op.run`` does the engine work that is timed;
``Op.check`` compares its result against a Python model or reference
implementation and is not timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool] = field(default=lambda _result: True)
    read: bool = True  # False for operations that change stored data


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Subclasses fill in ``build``, ``warm_up``, ``next_pass`` and
    ``final_checks``; ``stats`` carries per-layer numbers the workload
    itself measures (sizes, counts)."""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.stats: dict[str, float] = {}
        self.setup_checks: list[Op] = []  # checks of the set-up, run untimed

    def build(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> list[Op]:
        raise NotImplementedError

    def next_pass(self) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> list[Op]:
        return []

    def lineage_nodes(self) -> int:
        """Logical-plan size of the class the workload writes (0: none)."""
        return 0


# -- oltp_mixed ---------------------------------------------------------------------


class OltpMixed(Workload):
    """Reference-style operational traffic over a small TPC-H database plus
    a ``person`` document class: 83% point reads (RID get, parameterized
    key lookup, 2-hop link navigation, dictionary get) and 17% writes
    (INSERT, UPDATE by key, DELETE, and a group of three optimistic
    transactions of which the last conflicts)."""

    SF = 0.01
    N_PERSON = 2000

    def build(self) -> None:
        from orientdb_spark import Engine

        tables = gen.tpch_tables(self.seed, self.SF)
        persons = gen.person_table(self.seed, self.N_PERSON)
        in_dir = os.path.join(self.work, "oltp-in")
        gen.write_tables(tables, in_dir)
        pq.write_table(persons, os.path.join(in_dir, "person.parquet"))
        eng = Engine(self.spark)
        eng.register_parquet_dir(in_dir)
        for stmt in (
            "create class person",
            "create property person.pid long",
            "create property person.name string",
            "create property person.age integer",
            "create property person.city string",
        ):
            eng.command(stmt)
        eng.append("person", self.spark.read.parquet(os.path.join(in_dir, "person.parquet")))
        self.cust_cluster = eng.catalog.get("customer").cluster_id
        for key in range(tables["customer"].num_rows):
            eng.dictionary.put(f"cust:{key}", "customer", (self.cust_cluster, key))
        # persistence round trip: the reopened copy must hold the same
        # person records. The stream itself runs on the loading engine: on a
        # reopened class an INSERT leaves the new record's RID position null,
        # and every later optimistic tx on the class then fails its commit
        # (see perfbench/README.md, "Known engine defect").
        db_dir = os.path.join(self.work, "oltp-db")
        eng.save_database(db_dir)
        reopened = Engine(self.spark)
        reopened.open_database(db_dir)
        self.stats["storage.bytes_per_user_byte"] = _dir_bytes(db_dir) / _dir_bytes(in_dir)

        self.eng = eng
        self.model = checks.OltpModel(tables, persons)
        self.setup_checks = [Op("reopen_digest", lambda: self._digest(reopened), self._digest_ok)]
        self.blocks = gen.oltp_blocks(
            self.seed, tables["customer"].num_rows, tables["orders"].num_rows, self.N_PERSON
        )

    def warm_up(self) -> list[Op]:
        """The stream's first block, one statement of each kind: enough to
        take every kind's first-execution cost. Only repeated reads are
        skipped, so the stream's state (and the model) stays in step."""
        ops, seen = [], set()
        for o in next(self.blocks):
            if o["kind"] not in seen:
                seen.add(o["kind"])
                ops.append(self._op(o))
        return ops

    def next_pass(self) -> list[Op]:
        return [self._op(o) for o in next(self.blocks)]

    def _op(self, o: dict) -> Op:
        eng, kind, model = self.eng, o["kind"], self.model
        if kind in ("rid_get", "key_lookup", "link_nav", "dict_get"):
            run = {
                "rid_get": lambda: [
                    (r["c_custkey"], r["c_name"], r["c_acctbal"])
                    for r in eng.query(f"select from #{self.cust_cluster}:{o['key']}")
                ],
                "key_lookup": lambda: [
                    (r["name"], r["age"])
                    for r in eng.query("select name, age from person where pid = ?", [o["key"]])
                ],
                "link_nav": lambda: [
                    r["n"]
                    for r in eng.query(
                        "select o_custkey.c_nationkey.n_name as n from orders "
                        f"where o_orderkey = {o['key']}"
                    )
                ],
                "dict_get": lambda: [
                    (r["c_custkey"], r["c_name"], r["c_acctbal"])
                    for r in eng.dictionary.get_record(f"cust:{o['key']}").collect()
                ],
            }[kind]
            return Op(kind, run, lambda got: got == model.expect(o))
        if kind == "tx_group":
            return Op(kind, lambda: self._tx_group(o), lambda outcome: outcome == [True, True, False]
                      and self._apply(o), read=False)
        stmt, field_ = {
            "insert": (
                f"insert into person (pid, name, age, city) values "
                f"({o.get('pid')}, '{o.get('name')}', {o.get('age')}, '{o.get('city')}')",
                "inserted",
            ),
            "update": (f"update person set age = {o.get('age')} where pid = {o.get('pid')}", "updated"),
            "delete": (f"delete from person where pid = {o.get('pid')}", "deleted"),
        }[kind]
        return Op(kind, lambda: eng.command(stmt).collect()[0][field_],
                  lambda n: n == 1 and self._apply(o), read=False)

    def _tx_group(self, o: dict) -> list[bool]:
        """Three optimistic transactions open together: t1 and t3 update
        record a, t2 record b. Committed in order, t1 installs, t2 rebases
        onto it (disjoint records) and t3 must fail with
        OConcurrentModificationException. Returns which commits landed."""
        from orientdb_spark.errors import OConcurrentModificationException

        txs = [self.eng.begin() for _ in range(3)]
        for tx, pid, age in zip(txs, (o["pid_a"], o["pid_b"], o["pid_a"]), o["ages"]):
            tx.command(f"update person set age = {age} where pid = {pid}")
        landed = []
        for tx in txs:
            try:
                tx.commit()
                landed.append(True)
            except OConcurrentModificationException:
                landed.append(False)
        return landed

    def _apply(self, o: dict) -> bool:
        self.model.apply(o)
        return True

    @staticmethod
    def _digest(eng) -> str:
        rows = eng.query("select pid, name, age, city from person")
        return checks.person_digest((r["pid"], r["name"], r["age"], r["city"]) for r in rows)

    def _digest_ok(self, digest: str) -> bool:
        return digest == self.model.digest()

    def final_checks(self) -> list[Op]:
        return [Op("person_digest", lambda: self._digest(self.eng), self._digest_ok)]

    def lineage_nodes(self) -> int:
        df = self.eng.catalog.dataframe("person")
        return df._jdf.queryExecution().logical().treeString().count("\n")


# -- pipeline_dedup -----------------------------------------------------------------


class Corpus:
    """Generated documents and embeddings with their planted pairs, written
    to parquet and cached in Spark."""

    def __init__(self, spark, in_dir: str, seed: int, n_docs: int, doc_dups: int,
                 n_vecs: int, vec_dups: int, n_queries: int):
        docs, self.doc_pairs = gen.documents(seed, n_docs, doc_dups)
        vecs, self.vec_pairs = gen.embeddings(seed, n_vecs, vec_dups)
        os.makedirs(in_dir, exist_ok=True)
        pq.write_table(docs, os.path.join(in_dir, "documents.parquet"))
        pq.write_table(vecs, os.path.join(in_dir, "embeddings.parquet"))
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vecs = np.array(vecs["embedding"].to_pylist(), dtype="float32")
        self.docs = spark.read.parquet(os.path.join(in_dir, "documents.parquet")).cache()
        self.emb = spark.read.parquet(os.path.join(in_dir, "embeddings.parquet")).cache()
        self.docs.count()  # materialize the caches: ingest is part of set-up
        self.emb.count()
        self.qids = list(range(0, n_vecs, n_vecs // n_queries))[:n_queries]
        self.qvecs = self.emb.filter(self.emb.vec_id.isin(self.qids))


class PipelineDedup(Workload):
    """The data-pipeline operators, which bypass the SQL front end: MinHash
    LSH near-duplicate pairs, embedding-cosine duplicate pairs, brute-force
    top-k, BM25 top-k and document quality scores, over generated documents
    and embeddings with planted near-duplicates. None of them changes
    stored data, so every operation counts as a read. The warm-up pass runs
    the operators on a small corpus: that takes the first-execution costs
    (JIT, code generation, Python worker start) at a fraction of the time
    of a full-size pass."""

    FULL = dict(n_docs=1500, doc_dups=30, n_vecs=600, vec_dups=20, n_queries=16)
    SMALL = dict(n_docs=150, doc_dups=5, n_vecs=100, vec_dups=5, n_queries=4)
    TOPK = 5
    BM25_QUERIES = {0: "spark join index", 1: "window row merge", 2: "hash key value scan"}
    JACCARD = 0.8

    def build(self) -> None:
        self.corpus = Corpus(self.spark, os.path.join(self.work, "pipe-in"), self.seed, **self.FULL)
        self.bm25_q = self.spark.createDataFrame(
            list(self.BM25_QUERIES.items()), "query_id long, query_text string"
        )
        self.found: dict[str, float] = {}

    def warm_up(self) -> list[Op]:
        small = Corpus(self.spark, os.path.join(self.work, "pipe-warm"), self.seed, **self.SMALL)
        return self._ops(small)

    def next_pass(self) -> list[Op]:
        return self._ops(self.corpus)

    def _ops(self, c: Corpus) -> list[Op]:
        from orientdb_spark.pipeline import dedup, similarity, text

        def minhash():
            df = dedup.minhash_lsh_pairs(c.docs, num_hashes=32, bands=8, threshold=self.JACCARD)
            return [(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()]

        def emb_dedup():
            # 4 cells: ~15 vectors per cell in each of the 10 label blocks
            df = dedup.embedding_duplicate_pairs(c.emb, threshold=0.99, n_cells=4)
            return [tuple(r)[:2] for r in df.collect()]

        def topk():
            df = similarity.brute_force_topk(c.emb, c.qvecs, k=self.TOPK)
            return [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in df.collect()]

        def bm25():
            df = text.bm25_topk(c.docs, self.bm25_q, k=10)
            return [(r["query_id"], r["doc_id"], r["bm25"]) for r in df.collect()]

        def quality():
            return [(r["doc_id"], r["quality"]) for r in text.quality_score(c.docs).collect()]

        return [
            Op("minhash", minhash, lambda got: self._recall("minhash", got, c.doc_pairs)
               and checks.jaccard_pairs_ok(got, c.texts, c.doc_pairs, self.JACCARD)),
            Op("embedding_dedup", emb_dedup, lambda got: self._recall("embedding", got, c.vec_pairs)
               and checks.cosine_pairs_ok(got, c.vecs, c.vec_pairs, 0.99)),
            Op("topk", topk, lambda got: checks.topk_ok(got, c.vecs, c.qids, self.TOPK)),
            Op("bm25", bm25, lambda got: checks.bm25_ok(got, c.texts, self.BM25_QUERIES, 10)),
            Op("quality", quality, lambda got: checks.quality_ok(got, c.texts)),
        ]

    def _recall(self, name: str, got, planted: set) -> bool:
        found = {(min(a, b), max(a, b)) for a, b, *_ in got}
        self.found[name] = len(planted & found) / len(planted)
        return True


WORKLOADS = {"oltp_mixed": OltpMixed, "pipeline_dedup": PipelineDedup}
