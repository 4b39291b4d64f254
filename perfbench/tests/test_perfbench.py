"""Tests of the benchmark itself: generators, metric names, the gate, and
a traced run on small inputs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

import gen
import run
from workloads import WORKLOADS, Inputs

PARTS = {p.name: p for parts in WORKLOADS.values() for p in parts}

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture
def small(monkeypatch):
    """Shrink every workload so a Spark run takes seconds, under the
    benchmark's environment."""
    for key, value in run.bench_env().items():
        monkeypatch.setenv(key, value)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    monkeypatch.setattr(PARTS["knn-eval"], "n", 300)
    monkeypatch.setattr(PARTS["knn-join"], "n", 2_000)
    monkeypatch.setattr(PARTS["knn-join"], "sample", 50)
    monkeypatch.setattr(PARTS["dedup"], "n", 2_000)


def _dir_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generators_are_deterministic(tmp_path):
    def make(tag, seed):
        return _dir_bytes(gen.write_dir(str(tmp_path / tag), {
            "embeddings": gen.embeddings(500, 16, 4, seed),
            "documents": gen.documents(400, 300, 0.2, seed),
        }))

    a, b, c = make("a", 7), make("b", 7), make("c", 8)
    assert a == b
    assert a["embeddings.parquet"] != c["embeddings.parquet"]
    assert a["documents.parquet"] != c["documents.parquet"]
    tables = gen.STAND_IN_SCHEMAS.keys() | {"embeddings", "documents"}
    assert sorted(a) == sorted(f"{t}.parquet" for t in tables)


def test_documents_near_duplicate_share():
    docs = gen.documents(300, 500, 0.2, 3).to_pydict()["text"]
    toks = [set(t.split(" ")) for t in docs]
    lengths = sorted(len(t.split(" ")) for t in docs)
    assert 30 <= lengths[len(lengths) // 2] <= 90
    near = sum(
        max(len(toks[i] & toks[j]) / len(toks[i] | toks[j]) for j in range(i)) >= 0.8
        for i in range(1, len(toks))
    )
    assert 0.18 <= near / len(docs) <= 0.25


def test_metric_names_and_units():
    s = spec()
    names = [m["name"] for group in ("workloads", "end_to_end", "per_layer") for m in s[group]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert all(UNIT.fullmatch(m["unit"]) for g in ("end_to_end", "per_layer") for m in s[g])
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_oracle_gate_catches_wrong_answers(tmp_path):
    """The registry workloads' gate passes the oracle's own rows and fails
    a single changed value."""
    from knn_with_mapreduce_cuda_spark import oracle, registry

    wl = PARTS["knn-eval"]
    d = gen.write_dir(str(tmp_path), {"embeddings": gen.embeddings(200, 8, 3, 5)})
    inp = Inputs(d, 200, 5, str(tmp_path))
    ref = wl.reference(inp)
    con = oracle.duck_connection(d)
    sql = registry.oracle_sql(d)
    out = {k: con.execute(sql[k]).fetchdf() for k in wl.keys}
    assert wl.check(inp, ref, out) == []
    out["knn_regress"].loc[0, "pred_value"] += 0.0001
    assert wl.check(inp, ref, out) == ["knn_regress"]
    del out["graph_pagerank"]
    assert "graph_pagerank" in wl.check(inp, ref, out)


def test_brute_force_gate_catches_wrong_answers(tmp_path, small):
    wl = PARTS["knn-join"]
    n, k = 300, wl.k
    emb = gen.embeddings(n, 16, 4, 9)
    d = gen.write_dir(str(tmp_path), {"embeddings": emb})
    inp = Inputs(d, n, 9, str(tmp_path))
    mat = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    d2 = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    ids = np.arange(n)
    top = np.array([np.lexsort((ids, row))[:k] for row in d2])
    good = pa.table({
        "qid": np.repeat(ids, k),
        "tid": top.ravel(),
        "rnk": np.tile(np.arange(1, k + 1), n),
        "dist": np.sqrt(np.take_along_axis(d2, top, axis=1)).ravel(),
    })
    ref = wl.reference(inp)
    assert wl.check(inp, ref, good) == []
    q = next(iter(ref))
    tid = good.column("tid").to_numpy().copy()
    first = np.nonzero(good.column("qid").to_numpy() == q)[0][0]
    tid[first] = q  # a query as its own neighbour
    assert wl.check(inp, ref, good.set_column(1, "tid", pa.array(tid))) == [f"qid {q}"]
    assert wl.check(inp, ref, good.slice(0, n * k - 1))  # a row missing


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_end_to_end_run(small):
    res = run.end_to_end("knn", 4, 0.0)
    assert res["failed"] == 0 and res["attempted"] == 2
    assert sorted(res["metrics"]) == sorted(m["name"] for m in spec()["end_to_end"])
    assert all(v > 0 for v, _ in res["metrics"].values())


def test_traced_run_adds_no_failed_jobs(small):
    res = run.traced(4)
    assert res["failed"] == 0 and res["attempted"] == len(WORKLOADS) + 2 * len(PARTS)
    assert sorted(res["metrics"]) == sorted(m["name"] for m in spec()["per_layer"])
    units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert all(units[k] == u for k, (_, u) in res["metrics"].items())
    with open(os.path.join(run.WORK, "detail", "trace-seed4.json")) as f:
        spans = json.load(f)["spans"]
    for w in PARTS:
        mine = [s for s in spans if s["job"] == w]
        root = mine[0]
        assert root["name"] == "job" and root["parent"] is None
        assert sum(s["self_seconds"] for s in mine) == pytest.approx(root["seconds"], abs=1e-6)
        assert all(s["failed_tasks"] == 0 for s in mine)
        assert res["metrics"][f"{w}.trace.remainder_s"][0] == pytest.approx(root["self_seconds"])
