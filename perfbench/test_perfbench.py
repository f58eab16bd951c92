"""Tests of the benchmark's own helpers; no Spark session needed.

Run from the root of the repository: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import inputs
import run
import workloads
from measure import METRIC_NAME, Checks, latency_summary, metric, percentile

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..",
                              "BENCHMARK.json")


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _all_inputs(seed: int) -> list[bytes]:
    ids, vecs = inputs.vector_corpus(seed, 300, 24)
    d_ids, texts = inputs.text_corpus(seed, 200)
    out = [ids.tobytes(), vecs.tobytes(),
           _parquet_bytes(
               inputs.vector_table(ids, vecs, "vec_id", "embedding")),
           _parquet_bytes(inputs.text_table(d_ids, texts))]
    for q, v in inputs.query_batches(seed, "serve", 3, 10, 24):
        out += [q.tobytes(), v.tobytes()]
    for i, v in inputs.upsert_batches(seed, 300, 3, 10, 24):
        out += [i.tobytes(), v.tobytes()]
    return out


def test_same_seed_gives_byte_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)


def test_another_seed_gives_other_inputs():
    a, b = _all_inputs(7), _all_inputs(8)
    assert a[0] == b[0]  # ids are 0..n-1 for any seed
    assert a[1] != b[1] and a[3] != b[3]


def test_upsert_batches_mix_changed_and_new_ids():
    batches = inputs.upsert_batches(3, 100, 4, 10, 8)
    seen_new = set()
    for ids, vecs in batches:
        assert vecs.shape == (10, 8) and vecs.dtype == np.float32
        changed, new = ids[ids < 100], ids[ids >= 100]
        assert len(changed) == 5 and len(set(changed.tolist())) == 5
        assert not seen_new & set(new.tolist())
        seen_new |= set(new.tolist())


@pytest.mark.parametrize("n, kept", [(99, False), (100, True), (250, True)])
def test_p90_needs_ten_samples_beyond_it(n, kept):
    samples = [float(i) for i in range(n)]
    assert (percentile(samples, 0.9) is not None) == kept
    summary = latency_summary("latency", samples)
    assert summary["latency_n"] == n
    assert ("latency_p90_ms" in summary) == kept
    assert ("dropped" in summary) != kept
    assert summary["latency_p50_ms"] == np.median(samples)


def test_p90_of_hundred_leaves_exactly_ten_beyond():
    samples = [float(i) for i in range(1, 101)]
    p90 = percentile(samples, 0.9)
    assert sum(s > p90 for s in samples) == 10


def test_dropped_percentile_states_the_count_it_needs():
    summary = latency_summary("search", [1.0] * 12)
    assert summary["dropped"] == ["search_p90_ms: 12 samples, needs 100"]


def test_every_metric_name_is_valid():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    for name in names:
        assert METRIC_NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(run.END_TO_END)) == len(run.END_TO_END)


def test_benchmark_json_lists_what_the_runner_prints():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert units == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_metric_rejects_bad_names_and_values():
    assert metric("a.b-c_1", 2, "ms") == (
        "a.b-c_1", {"value": 2.0, "unit": "ms"})
    for bad in ("has space", "slash/name", "", "x" * 65):
        with pytest.raises(ValueError):
            metric(bad, 1.0, "ms")
    with pytest.raises(ValueError):
        metric("ok", float("nan"), "ms")


def test_failed_operation_is_counted_not_raised():
    checks = Checks()

    def boom():
        raise RuntimeError("engine error")

    assert checks.op("op 1", boom) is None
    assert checks.op("op 2", lambda: 42) == 42
    assert checks.verify("op 2", ["wrong row"]) is False
    assert checks.verify_op("twin", []) is True
    assert (checks.attempted, checks.failed) == (3, 2)
    assert not checks.correct
    assert "engine error" in checks.failures[0]


def test_response_problems_finds_each_defect():
    good = [(1, r, 10 + r, 1.0 - r / 10) for r in range(1, 6)]
    assert workloads.response_problems(good, [1]) == []
    short = good[:4]
    rising = [(1, r, 10 + r, r / 10) for r in range(1, 6)]
    repeated = [(1, r, 10, 1.0 - r / 10) for r in range(1, 6)]
    for rows in (short, rising, repeated):
        assert workloads.response_problems(rows, [1])
    assert workloads.response_problems(good, [1, 2])


def test_exact_topk_and_recall():
    corpus = np.eye(6, dtype=np.float32)
    queries = corpus[[2, 4]] + 0.01
    exact = workloads.exact_topk(corpus, queries, k=2)
    assert exact.tolist() == [[2, 0], [4, 0]]  # equal sims: lower id first
    rows = [(0, 1, 2, 1.0), (0, 2, 0, 0.1), (1, 1, 4, 1.0), (1, 2, 1, 0.1)]
    assert workloads.recall(rows, np.array([0, 1]), exact) == 0.75


def test_report_problems_compares_to_nine_decimals():
    twin = (10, 50, 0.5, 10, 0.25, 10)
    assert workloads.report_problems((10, 50, 0.5000000001, 10, 0.25, 10),
                                     twin) == []
    assert workloads.report_problems((10, 49, 0.5, 10, 0.25, 10), twin)
    assert workloads.report_problems((10, 50, 0.6, 10, 0.25, 10), twin)


def test_operation_counts_depend_only_on_seconds():
    for seconds in (1, 10, 60):
        assert workloads.cycles_for(seconds) % workloads.COMPACT_EVERY == 0
        assert workloads.cycles_for(seconds) >= workloads.COMPACT_EVERY
        assert workloads.requests_for(seconds) >= 4
        assert workloads.passes_for(seconds) >= 4
