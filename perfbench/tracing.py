"""Per-layer tracing from outside the engine.

``Tracer.install()`` wraps the public entry points of each engine layer at
their module attributes (the engine's own code is not edited) so every
call records a span: layer, function name, start, end, parent span and
the id of the benchmark operation that caused it. Spark work is counted
per operation through a job group and the status tracker. Spans stay in
memory; ``dump`` writes them out when the run ends.

Layers are named after the engine's modules: ``engine`` (engine.py),
``parser`` (lexer/parser/sqlast), ``select`` (select/expressions/catalog
compile), ``spark`` (actions that run Catalyst/Tungsten jobs), ``dml``,
``tx``, ``dictionary``, ``storage``, ``pipeline``. Time inside an
operation that no layer span covers is the benchmark's own (``bench``).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict

import orientdb_spark.dictionary as dictionary_mod
import orientdb_spark.dml as dml_mod
import orientdb_spark.engine as engine_mod
import orientdb_spark.parser as parser_mod
import orientdb_spark.select as select_mod
import orientdb_spark.storage as storage_mod
import orientdb_spark.tx as tx_mod
from orientdb_spark.pipeline import dedup, similarity, text
from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame  # the class actions live on

LAYERS = ("engine", "parser", "select", "spark", "dml", "tx", "dictionary", "storage", "pipeline")

# (owner, attribute, layer). Functions imported by name into another module
# are wrapped at every module attribute the engine calls them through.
_TARGETS = [
    (engine_mod.Engine, "sql", "engine"),
    (engine_mod.Engine, "command", "engine"),
    (engine_mod.Engine, "append", "engine"),
    (engine_mod.Engine, "save_database", "engine"),
    (engine_mod.Engine, "open_database", "engine"),
    (engine_mod, "parse", "parser"),
    (parser_mod, "parse", "parser"),
    (select_mod.SelectCompiler, "compile", "select"),
    (dml_mod, "execute_dml", "dml"),
    (dml_mod, "bulk_append", "dml"),
    (tx_mod.Transaction, "command", "tx"),
    (tx_mod.Transaction, "commit", "tx"),
    (dictionary_mod.Dictionary, "get", "dictionary"),
    (dictionary_mod.Dictionary, "get_record", "dictionary"),
    (storage_mod, "save_database", "storage"),
    (storage_mod, "open_database", "storage"),
    (dedup, "minhash_lsh_pairs", "pipeline"),
    (dedup, "embedding_duplicate_pairs", "pipeline"),
    (similarity, "brute_force_topk", "pipeline"),
    (text, "bm25_topk", "pipeline"),
    (text, "quality_score", "pipeline"),
    (DataFrame, "collect", "spark"),
    (DataFrame, "count", "spark"),
    (DataFrame, "isEmpty", "spark"),
    (DataFrame, "first", "spark"),
    (DataFrame, "localCheckpoint", "spark"),
    (DataFrame, "toPandas", "spark"),
    (DataFrameWriter, "save", "spark"),
    (DataFrameWriter, "parquet", "spark"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # finished spans, in end order
        self._stack: list[int] = []
        self._next_id = 0
        self._saved: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.op_kind: str | None = None
        self.ops: list[dict] = []  # one record per traced operation
        self.plan_cache = [0, 0]  # [hits, lookups] seen by Engine.sql in traced operations

    # -- wrapping ---------------------------------------------------------------

    def install(self) -> None:
        for owner, attr, layer in _TARGETS:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer, f"{layer}.{attr}"))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        is_sql = name == "engine.sql"

        def wrapper(*args, **kwargs):
            if is_sql and tracer.op_id is not None:  # plan-cache lookup, counted where it happens
                eng, text_ = args[0], args[1]
                params = kwargs.get("params", args[2] if len(args) > 2 else None)
                key = (text_, None if params is None else tuple(params))
                tracer.plan_cache[0] += key in eng._plan_cache
                tracer.plan_cache[1] += 1
            sid = tracer._begin()
            t0 = time.perf_counter()
            error = True
            try:
                out = fn(*args, **kwargs)
                error = False
                return out
            finally:
                tracer._end(sid, layer, name, t0, time.perf_counter(), error)

        wrapper.__wrapped__ = fn
        return wrapper

    def _begin(self) -> int:
        sid = self._next_id
        self._next_id += 1
        self._stack.append(sid)
        return sid

    def _end(self, sid: int, layer: str, name: str, t0: float, t1: float, error: bool) -> None:
        self._stack.pop()
        self.spans.append(
            {
                "id": sid,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
                "kind": self.op_kind,
                "layer": layer,
                "name": name,
                "start": t0,
                "end": t1,
                "error": error,
            }
        )

    # -- operations ---------------------------------------------------------------

    def begin_op(self, op_id: int, kind: str) -> None:
        self.op_id, self.op_kind = op_id, kind
        self._group = f"perfbench-{op_id}"
        self.sc.setJobGroup(self._group, kind)
        self._t0 = time.perf_counter()

    def end_op(self) -> None:
        t1 = time.perf_counter()
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(self._group))
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for st in info.stageIds if info else []:
                sinfo = tracker.getStageInfo(st)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        self.ops.append(
            {"op": self.op_id, "kind": self.op_kind, "start": self._t0, "end": t1,
             "jobs": len(jobs), "stages": stages, "tasks": tasks}
        )
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.op_id = self.op_kind = None

    # -- reductions ----------------------------------------------------------------

    def durations_ms(self, name: str, kind: str | None = None, setup: bool = False) -> list[float]:
        """Durations of the spans of function ``name``: those inside traced
        operations (of ``kind``, if given), or with ``setup`` those outside
        any operation (set-up and warm-up)."""
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name
            and (s["op"] is None) == setup
            and (kind is None or s["kind"] == kind)
        ]

    def op_ms(self, kind: str) -> list[float]:
        return [(o["end"] - o["start"]) * 1e3 for o in self.ops if o["kind"] == kind]

    def self_ms_per_op(self) -> dict[str, float]:
        """Mean self time per traced operation for each layer, plus the
        benchmark's own share (``bench``): op time no layer span covers.
        A span's self time is its duration minus the time its direct
        children cover (children never overlap: one client thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        op_ids = {o["op"] for o in self.ops}
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in op_ids:
                dur = s["end"] - s["start"]
                totals[s["layer"]] += dur - child_time[s["id"]]
                if s["parent"] is None:
                    totals["bench"] -= dur
        totals["bench"] += sum(o["end"] - o["start"] for o in self.ops)
        n = max(len(self.ops), 1)
        return {layer: totals[layer] * 1e3 / n for layer in (*LAYERS, "bench")}

    def overhead_pct(self, calls: int = 10_000, rounds: int = 5) -> float:
        """Share of the traced operations' time spent in the wrappers, in
        percent: the cost of one wrapped call over a bare one (the best of
        ``rounds`` timings of ``calls`` calls), times the spans recorded in
        the traced operations, over those operations' total time."""

        def noop():
            return None

        wrapped = self._wrap(noop, "bench", "bench.noop")
        spans, self.spans = self.spans, []
        costs = []
        try:
            for _ in range(rounds):
                t0 = time.perf_counter()
                for _ in range(calls):
                    noop()
                t1 = time.perf_counter()
                for _ in range(calls):
                    wrapped()
                costs.append((time.perf_counter() - t1) - (t1 - t0))
                self.spans.clear()
        finally:
            self.spans = spans
        op_ids = {o["op"] for o in self.ops}
        n_spans = sum(1 for s in self.spans if s["op"] in op_ids)
        op_s = sum(o["end"] - o["start"] for o in self.ops)
        return min(costs) / calls * n_spans / op_s * 100.0

    def spark_per_op(self) -> dict[str, float]:
        n = max(len(self.ops), 1)
        return {k: sum(o[k] for o in self.ops) / n for k in ("jobs", "stages", "tasks")}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.ops:
                fh.write(json.dumps({"type": "op", **rec}) + "\n")
            for rec in self.spans:
                fh.write(json.dumps({"type": "span", **rec}) + "\n")


def median_or_zero(values: list[float]) -> float:
    """Median of ``values``; 0.0 when the layer was not called at all."""
    return statistics.median(values) if values else 0.0
