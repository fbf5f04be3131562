"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import itertools
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


# -- generators are deterministic ------------------------------------------------------


def test_tpch_tables_same_seed_same_bytes():
    a, b, c = gen.tpch_tables(7, 0.01), gen.tpch_tables(7, 0.01), gen.tpch_tables(8, 0.01)
    assert {k: _bytes(t) for k, t in a.items()} == {k: _bytes(t) for k, t in b.items()}
    assert _bytes(a["orders"]) != _bytes(c["orders"])


def test_oltp_stream_same_seed_same_statements():
    def first(seed):
        return list(itertools.islice(gen.oltp_blocks(seed, 1500, 15000, 2000), 20))

    assert first(3) == first(3)
    assert first(3) != first(4)


def test_oltp_blocks_have_fixed_mix():
    for block in itertools.islice(gen.oltp_blocks(5, 1500, 15000, 2000), 10):
        assert [op["kind"] for op in block] == list(gen.BLOCK)
    reads = sum(kind in gen.READS for kind in gen.BLOCK)
    assert all(gen.BLOCK.count(kind) == 5 for kind in gen.READS)
    writes = [i for i, kind in enumerate(gen.BLOCK) if kind not in gen.READS]
    assert len(writes) == 4 and writes[-1] == len(gen.BLOCK) - 1
    assert all(gen.BLOCK[(i + 1) % len(gen.BLOCK)] == "key_lookup" for i in writes)


def test_oltp_keys_are_skewed():
    keys = [
        op["key"]
        for block in itertools.islice(gen.oltp_blocks(9, 1500, 15000, 2000), 300)
        for op in block
        if op["kind"] in ("rid_get", "dict_get")
    ]
    top = max(keys.count(k) for k in set(keys))
    assert top >= 0.05 * len(keys)  # uniform draws would give ~1/1500


def test_oltp_writes_target_live_records():
    live = set(range(2000))
    for block in itertools.islice(gen.oltp_blocks(11, 1500, 15000, 2000), 200):
        for op in block:
            if op["kind"] == "insert":
                assert op["pid"] not in live
                live.add(op["pid"])
            elif op["kind"] == "update":
                assert op["pid"] in live
            elif op["kind"] == "delete":
                live.remove(op["pid"])
            elif op["kind"] == "tx_group":
                assert op["pid_a"] in live and op["pid_b"] in live
                assert op["pid_a"] != op["pid_b"]


def test_pipeline_inputs_same_seed_same_bytes():
    d1, p1 = gen.documents(2, 300, 10)
    d2, p2 = gen.documents(2, 300, 10)
    e1, q1 = gen.embeddings(2, 200, 8)
    e2, q2 = gen.embeddings(2, 200, 8)
    assert _bytes(d1) == _bytes(d2) and p1 == p2
    assert _bytes(e1) == _bytes(e2) and q1 == q2
    assert _bytes(gen.documents(3, 300, 10)[0]) != _bytes(d1)


def test_planted_pairs_are_near_duplicates():
    docs, pairs = gen.documents(4, 300, 10)
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    assert len(pairs) == 10
    for a, b in pairs:
        sa, sb = checks.shingles(texts[a]), checks.shingles(texts[b])
        assert len(sa & sb) / len(sa | sb) > 0.9
    emb, vpairs = gen.embeddings(4, 200, 8)
    vecs = np.array(emb["embedding"].to_pylist())
    assert all(vecs[a] @ vecs[b] > 0.999 for a, b in vpairs)


# -- each check rejects a corrupted result -------------------------------------------------


@pytest.fixture()
def model():
    tables = gen.tpch_tables(1, 0.01)
    return checks.OltpModel(tables, gen.person_table(1, 50))


def test_oltp_model_rejects_wrong_reads(model):
    op = {"kind": "rid_get", "key": 3}
    good = model.expect(op)
    assert good == [(3, *model.customer[3])]
    assert [(3, "Customer#000000004", good[0][2])] != good
    nav = {"kind": "link_nav", "key": 10}
    assert model.expect(nav) != ["NATION_99"]
    look = {"kind": "key_lookup", "key": 7}
    name, age, _ = model.person[7]
    assert model.expect(look) == [(name, age)]
    assert model.expect(look) != [(name, age + 1)]


def test_oltp_model_tracks_writes_and_digest(model):
    before = model.digest()
    model.apply({"kind": "update", "pid": 7, "age": 99})
    assert model.expect({"kind": "key_lookup", "key": 7})[0][1] == 99
    assert model.digest() != before
    model.apply({"kind": "delete", "pid": 7})
    assert model.expect({"kind": "key_lookup", "key": 7}) == []
    model.apply({"kind": "tx_group", "pid_a": 8, "pid_b": 9, "ages": (1, 2, 3)})
    assert (model.person[8][1], model.person[9][1]) == (1, 2)
    rows = [(pid, *v) for pid, v in model.person.items()]
    assert checks.person_digest(rows) == model.digest()
    rows[0] = (rows[0][0], rows[0][1], rows[0][2] + 1, rows[0][3])
    assert checks.person_digest(rows) != model.digest()


def test_jaccard_check_rejects_missing_and_false_pairs():
    docs, pairs = gen.documents(5, 200, 6)
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    good = [(a, b, 0.95) for a, b in pairs]
    assert checks.jaccard_pairs_ok(good, texts, pairs, 0.8)
    assert not checks.jaccard_pairs_ok(good[1:], texts, pairs, 0.8)
    assert not checks.jaccard_pairs_ok(good + [(0, 1, 0.9)], texts, pairs, 0.8)


def test_cosine_check_rejects_missing_and_false_pairs():
    emb, pairs = gen.embeddings(5, 200, 6)
    vecs = np.array(emb["embedding"].to_pylist(), dtype="float32")
    good = sorted(pairs)
    assert checks.cosine_pairs_ok(good, vecs, pairs, 0.99)
    assert not checks.cosine_pairs_ok(good[1:], vecs, pairs, 0.99)
    assert not checks.cosine_pairs_ok(good + [(0, 1)], vecs, pairs, 0.99)


def test_topk_check_rejects_wrong_neighbour():
    emb, _ = gen.embeddings(6, 100, 4)
    vecs = np.array(emb["embedding"].to_pylist(), dtype="float64")
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = []
    for q in (0, 10):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        rows += [(q, int(n), float(sims[n])) for n in np.argsort(-sims)[:3]]
    assert checks.topk_ok(rows, vecs, [0, 10], 3)
    worst = int(np.argsort(unit @ unit[0])[0])
    bad = [(0, worst, float(unit[worst] @ unit[0]))] + rows[1:]
    assert not checks.topk_ok(bad, vecs, [0, 10], 3)


def test_bm25_check_rejects_wrong_scores():
    docs, _ = gen.documents(7, 120, 4)
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    queries = {0: "spark join", 1: "window"}
    rows = []
    for q, qt in queries.items():
        scores = checks.bm25_scores(texts, qt)
        best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        rows += [(q, d, round(s, 6)) for d, s in best]
    assert checks.bm25_ok(rows, texts, queries, 5)
    q, d, s = rows[0]
    assert not checks.bm25_ok([(q, d, s + 0.01)] + rows[1:], texts, queries, 5)
    assert not checks.bm25_ok(rows[1:], texts, queries, 5)


def test_quality_check_rejects_wrong_missing_and_nan_scores():
    docs, _ = gen.documents(8, 60, 3)
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    rows = [(d, round(checks.quality_reference(t) + 1e-12, 6)) for d, t in texts.items()]
    assert checks.quality_ok(rows, texts)
    (d, s), rest = rows[0], rows[1:]
    assert not checks.quality_ok([(d, s + 1e-4)] + rest, texts)
    assert not checks.quality_ok([(d, float("nan"))] + rest, texts)
    assert not checks.quality_ok(rest, texts)
    assert not checks.quality_ok([(rest[0][0], s)] + rest, texts)
    # scores moved to other documents
    shuffled = list(zip((r[0] for r in rows), [r[1] for r in rows][1:] + [rows[0][1]]))
    assert not checks.quality_ok(shuffled, texts)


def test_quality_reference_follows_documented_formula():
    text = "the cat sat, on a mat"  # 6 tokens, 16 letters and ',', 1 punct of 21 chars
    toks, mean_wl, stop, punct = 6, 16 / 6, 2 / 6, 1 / 21
    want = (0.4 * toks / 100 + 0.3 * (1 - abs(mean_wl - 5) / 5)
            + 0.2 * min(stop * 5, 1) + 0.1 * (1 - min(punct * 10, 1)))
    assert checks.quality_reference(text) == pytest.approx(want)


def test_read_p50_is_geometric_mean_of_kind_medians():
    by_kind = {"a": [0.1, 0.1, 0.9], "b": [0.4, 0.4]}
    assert run.read_p50_ms(by_kind) == pytest.approx(200.0)


# -- printed metric names match BENCHMARK.json ---------------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "oltp_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
