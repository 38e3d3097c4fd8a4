"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layer_metrics  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors) and match == names


def test_generator_is_byte_identical_per_seed(tmp_path):
    p = gen.params()
    small = dict(p["corpus"], docs=120, embeddings=50)
    for d in ("a", "b"):
        gen.weather_batches(7, str(tmp_path / d / "raw"), p["weather"])
        gen.star_schema(7, str(tmp_path / d / "sf"), 0.001)
        docs, emb = gen.corpus(7, small)
        gen.write_corpus_copy(docs, emb, str(tmp_path / d / "corpus"), 7, 0)
    for sub in ("raw", "sf", "corpus"):
        assert _same_tree(str(tmp_path / "a" / sub), str(tmp_path / "b" / sub)), sub
    gen.weather_batches(8, str(tmp_path / "c" / "raw"), p["weather"])
    assert not _same_tree(str(tmp_path / "a" / "raw"), str(tmp_path / "c" / "raw"))


def test_weather_plants_duplicates_late_rows_and_invalid_records(tmp_path):
    p = gen.params()["weather"]
    w = gen.weather_batches(3, str(tmp_path), p)
    n_keys = p["cities"] * p["hours"]
    assert len(w["final"]) == n_keys
    records = [json.loads(line) for path in w["paths"] for line in open(path)]
    assert len(records) == w["delivered"] > n_keys
    def valid(r):
        return ("name" in r and "coord" in r and r["weather"]
                and r.get("main", {}).get("temp") is not None)

    invalid = [r for r in records if not valid(r)]
    assert invalid, "no invalid records planted"
    # every invalid record is a poisoned re-delivery, so one kept would show
    assert all(r.get("main", {}).get("temp", 999.0) in (None, 999.0) for r in invalid)


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(200))
    assert stats.percentile(xs, 95) == 189  # rank 190 of 200: ten beyond
    assert stats.percentile(xs[:199], 95) is None  # rank 190 of 199: nine beyond
    assert stats.percentile(list(range(20)), 50) == 9
    assert stats.percentile(list(range(19)), 50) is None


def test_metric_names_follow_the_grammar():
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads") for m in BENCH[key]]
    assert len(names) == len(set(names))
    for n in names + list(stats.END_TO_END) + list(stats.PER_LAYER):
        assert stats.NAME_RE.fullmatch(n), n


def test_benchmark_json_names_every_metric_the_command_prints():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == stats.PER_LAYER
    import workloads

    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


def test_result_line_prints_every_declared_metric():
    e2e = stats.end_to_end(1.5, [2.0, 3.0, 4.0], [0.1, 0.2, 0.3], 900.0)
    line = stats.result_line(True, 3, 0, e2e, stats.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(stats.END_TO_END)
    assert line["metrics"]["op_p50_ms"] == {"value": 200.0, "unit": "ms"}
    with pytest.raises(KeyError):
        stats.result_line(True, 3, 0, {"setup_s": 1.0}, stats.END_TO_END)


def test_traced_run_prints_every_per_layer_metric():
    tr = Tracer(enabled=True)
    with tr.span("session.get_spark"):
        pass
    wl = SimpleNamespace(counters={"rows_kept_ratio": [0.9]}, raw={"bytes": [10]})
    values = layer_metrics.per_layer(tr, wl, [1.0], [1.1])
    assert set(values) == set(stats.PER_LAYER)
    assert values["sources.weather_ingest.rows_kept_ratio"] == 0.9
    assert values["trace.overhead_ratio"] == pytest.approx(1.1)
    stats.result_line(True, 1, 0, values, stats.PER_LAYER)


def test_span_records_parent_request_and_self_time():
    tr = Tracer(enabled=True)
    with tr.span("outer", "r1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.span_id and inner.request == "r1"
    parent = Span("p", 1, None, None, 0.0, 10.0)
    parent.children = [Span("a", 2, 1, None, 1.0, 4.0), Span("b", 3, 1, None, 3.0, 5.0),
                       Span("c", 4, 1, None, 8.0, 9.0)]
    assert Tracer.self_seconds(parent) == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_serve_why_records_the_generator_parameters():
    p = gen.params()["weather"]
    why = next(w["why"] for w in BENCH["workloads"] if w["name"] == "serve_mixed")
    assert f"{p['cities']} cities x {p['hours']} h" in why
    for key, label in (("dup_share", "re-delivered"), ("late_share", "late"),
                       ("invalid_share", "invalid")):
        assert f"{round(p[key] * 100)}% {label}" in why


def test_benchmark_json_meets_the_contract_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in BENCH["workloads"])
