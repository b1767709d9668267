"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark: each workload runs at `--size tiny`
with `--seconds 1` (one request deck, one ingest cycle), untraced once
and traced twice (a few minutes in all on a 4-core host).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, twin  # noqa: E402
from perfbench.harness import Run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# operations one run makes at `--seconds 1`: one deck / one cycle
OPS = {"search": 21, "pipeline": 4}


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------ definitions
def test_benchmark_json_within_contract_limits():
    doc = bench_json()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in doc[key]]
    assert all(name.match(n) for n in names)
    assert len(names) == len(set(names))
    assert 2 <= len(doc["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])
    assert 1 <= len(doc["end_to_end"]) <= 16
    assert 1 <= len(doc["per_layer"]) <= 128
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= doc["run_seconds"] <= 60
    assert len(json.dumps(doc)) <= 64 * 1024
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)


# ------------------------------------------------ inputs and checker
def test_same_seed_same_inputs():
    a = gen.rng_for(7, "x"), gen.rng_for(7, "x")
    assert np.array_equal(gen.vectors(a[0], 50), gen.vectors(a[1], 50))
    s1 = gen.doc_shard(gen.rng_for(7, "p"), 0, 100)
    s2 = gen.doc_shard(gen.rng_for(7, "p"), 0, 100)
    assert s1["text"] == s2["text"] and s1["groups"] == s2["groups"]
    s3 = gen.doc_shard(gen.rng_for(8, "p"), 0, 100)
    assert s3["text"] != s1["text"]


def test_planted_duplicates_are_near_duplicates():
    sh = gen.doc_shard(gen.rng_for(3, "p"), 0, 400)
    texts = dict(zip(sh["doc_id"].tolist(), sh["text"]))
    assert sh["groups"]
    for g in sh["groups"]:
        a, b = twin.shingles(texts[g[0]]), twin.shingles(texts[g[1]])
        assert twin.jaccard(a, b) >= 0.5


def test_fold_twin_matches_sequential_sum():
    rng = np.random.default_rng(0)
    m = rng.normal(size=(5, 64))
    q = rng.normal(size=64)
    for i in range(5):
        acc = 0.0
        for j in range(64):
            acc = acc + m[i, j] * q[j]
        assert twin.fold_dot(m, q)[i] == acc


def test_swapped_ids_are_a_failed_operation(tmp_path):
    ids = np.arange(50, dtype=np.int64)
    s = twin.scores(gen.vectors(gen.rng_for(1, "t"), 50).astype(np.float64),
                    np.ones(64), "cosine")
    want = twin.topk(ids, s, "cosine", 10)
    swapped = list(want)
    swapped[2], swapped[5] = (swapped[5][0], swapped[2][1]), \
        (swapped[2][0], swapped[5][1])
    assert twin.ranked_mismatch(want, want) is None
    assert twin.ranked_mismatch(swapped, want) is not None

    run = Run("search", 1, 1.0, False, str(tmp_path))
    run.op("knn", lambda: want, lambda got: twin.ranked_mismatch(got, want))
    run.op("knn", lambda: swapped,
           lambda got: twin.ranked_mismatch(got, want))
    run.op("knn", lambda: 1 / 0)
    assert (run.attempted, run.failed) == (3, 2)


def test_memo_hit_needs_the_same_object():
    from perfbench.trace import Tracer, layer_metrics

    tracer = Tracer()
    tracer.enabled = True
    cached = object()
    memo = tracer._wrap("tables.load_parallel", lambda key: cached)
    fresh = tracer._wrap("tables.load_parallel", lambda key: [key])
    for _ in range(4):
        memo("t")
    for _ in range(4):
        fresh("u")   # a new object each call, even if its id is reused
    ratio = layer_metrics(tracer.spans, {s["id"]: {} for s in tracer.spans},
                          {})["tables.load_parallel.memo_hit_ratio"]
    assert ratio == 3 / 8


def test_tied_scores_compare_as_sets():
    want = [(1, 0.5), (2, 0.5), (3, 0.25)]
    assert twin.ranked_mismatch([(2, 0.5), (1, 0.5), (3, 0.25)], want) is None
    assert twin.ranked_mismatch([(1, 0.5), (3, 0.5), (2, 0.25)],
                                want) is not None


# ------------------------------------------------------- end to end
def _run(cwd: str, workload: str, trace: int, seed: int = 5):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _trace_file(workload: str, seed: int = 5) -> dict:
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"trace-{workload}-s{seed}.json")) as f:
        return json.load(f)


def _op_jobs(spans: list[dict]) -> int:
    """Spark jobs run inside the traced operations."""
    return sum(len(s.get("job_ids", ())) for s in spans
               if s["request"] is not None)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_end_to_end(workload):
    doc = bench_json()
    plain = _result(_run(ROOT, workload, 0))
    assert plain["correct"] and plain["failed"] == 0
    assert plain["attempted"] >= OPS[workload]
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == \
        {m["name"]: m["unit"] for m in doc["end_to_end"]}
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    traced = []
    for _ in range(2):   # a traced run does twice the measured work
        r = _result(_run(ROOT, workload, 1))
        assert r["correct"]
        assert {k: v["unit"] for k, v in r["metrics"].items()} == \
            {m["name"]: m["unit"] for m in doc["per_layer"]}
        traced.append((r["metrics"], _trace_file(workload)))
    (m1, t1), (m2, t2) = traced
    # same seed: identical quality (recall / write amplification /
    # dedup recall) and the same Spark jobs per operation. Adaptive
    # query execution submits query stages as their inputs finish and
    # may re-plan in between, so in the pipeline's shuffle-heavy sweep
    # a run now and then has one stage job more or less (seen in
    # connected_components); search's job counts repeat exactly.
    q = plain["metrics"]["quality"]["value"]
    assert t1["e2e"]["quality"] == t2["e2e"]["quality"] == q
    jobs = [_op_jobs(t["spans"]) for t in (t1, t2)]
    assert jobs[0] > 0
    assert abs(jobs[0] - jobs[1]) <= (0 if workload == "search" else 1)
    if workload == "search":
        assert m1["api.search.define_ms"]["value"] > 0
        assert m1["operators.hnsw.hnsw_build.eager_jobs"]["value"] > 0
        assert m1["operators.hnsw.hnsw_probe_driver.eager_jobs"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
