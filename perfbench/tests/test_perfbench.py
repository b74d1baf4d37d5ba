"""The benchmark's own checks; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import inputs, score
from perfbench.run import END_TO_END, PER_LAYER, ROOT, SPAN_BUSY
from perfbench.tracing import parse_metric, self_times

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _files(path):
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), path)] = f.read()
    return out


@pytest.mark.parametrize("kind,n", [("parsed", 120), ("raw", 80)])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind, n):
    a = _files(inputs.ensure(str(tmp_path / "a"), kind, 3, n))
    b = _files(inputs.ensure(str(tmp_path / "b"), kind, 3, n))
    c = _files(inputs.ensure(str(tmp_path / "c"), kind, 4, n))
    assert a == b
    assert a != c


def test_raw_plan_plants_clusters_and_damaged_files():
    files, clusters = inputs.raw_plan(5, 400)
    names = {f[0] for f in files}
    assert len(clusters) == 400 // inputs.CLUSTER_SHARE
    assert all(len(c) >= 2 and set(c) <= names for c in clusters)
    fmts = {f[2] for f in files}
    assert {"txt", "html", "pdf", "docx", "eml", "bad"} <= fmts


def _golden_docs():
    from extractthinker_spark.corpus import goldens_pandas

    g = goldens_pandas(200, start=inputs.SEED_STRIDE)
    spans = {r.doc_id: score.span_key(r.spans)
             for r in g["expected_spans"].itertuples()}
    fields = [tuple(r) for r in g["expected_fields"][
        ["doc_id", "contract", "field", "value"]].itertuples(index=False)]
    return spans, fields


def test_span_match_is_one_on_goldens_and_less_when_perturbed():
    want, _ = _golden_docs()
    assert score.span_exact_match(dict(want), want) == 1.0
    got = dict(want)
    doc = next(d for d, s in got.items() if s and s[0][1])
    kind, text, ref = got[doc][0]
    got[doc] = ((kind, text + " ", ref),) + got[doc][1:]
    assert score.span_exact_match(got, want) < 1.0
    del got[doc]
    assert score.span_exact_match(got, want) < 1.0
    # order is part of the invariant
    multi = next(d for d, s in want.items() if len(s) > 1)
    swapped = dict(want)
    swapped[multi] = tuple(reversed(want[multi]))
    assert score.span_exact_match(swapped, want) < 1.0


def test_damaged_inputs_match_only_without_text_spans():
    want = {"a": None, "b": None}
    got = {"a": (("media", None, "bytes:zip"),), "b": (("text", "x", None),)}
    assert score.span_exact_match(got, want) == 0.5
    assert score.span_exact_match({"a": (), "b": ()}, want) == 1.0


def test_contract_match_is_one_on_goldens_and_less_when_perturbed():
    _, fields = _golden_docs()
    assert score.contract_match(set(fields), fields) == 1.0
    d, c, f, v = fields[0]
    bad = set(fields) - {fields[0]} | {(d, c, f, v + "0")}
    assert score.contract_match(bad, fields) < 1.0


def test_near_dup_recall():
    clusters = [["a", "b", "c"], ["d", "e"]]
    assert score.near_dup_recall(clusters, {"a", "d", "x"}) == 1.0
    # nothing removed from the first cluster
    assert score.near_dup_recall(clusters, {"a", "b", "c", "d"}) == 1 / 3
    # a cluster removed entirely earns nothing
    assert score.near_dup_recall(clusters, {"a"}) == 2 / 3
    assert score.near_dup_recall([], set()) == 1.0


def test_delivered_frac():
    assert score.delivered_frac(10, 10) == 1.0
    assert score.delivered_frac(10, 12) == 1.0
    assert score.delivered_frac(10, 7) == 0.7


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert NAME.match(name), name
    assert set(SPAN_BUSY.values()) <= set(PER_LAYER)
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_on_synthetic_tree():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps child 1: union 1..6
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped to 8..10
        _span(4, 1, 1.5, 2.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("0.0 B", 0.0),
    ("2.0 KiB", 2048.0),
    ("85 ms", 0.085),
    ("total (min, med, max (stageId: taskId))\n449 ms (4 ms, 8 ms, 437 ms "
     "(stage 47.0: task 87))", 0.449),
    ("total (min, med, max)\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB)", 1.5 * 2 ** 20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parsed_goldens_equal_goldens_pandas(tmp_path):
    import pyarrow.parquet as pq

    from extractthinker_spark.corpus import goldens_pandas

    path = inputs.ensure(str(tmp_path), "parsed", 2, 150)
    want = goldens_pandas(150, start=2 * inputs.SEED_STRIDE)
    spans = pq.read_table(f"{path}/golden_spans.parquet").to_pylist()
    assert {r["doc_id"]: score.span_key(r["spans"]) for r in spans} == {
        r.doc_id: score.span_key(r.spans)
        for r in want["expected_spans"].itertuples()}
    fields = pq.read_table(f"{path}/golden_fields.parquet").to_pylist()
    assert [tuple(r.values()) for r in fields] == [
        tuple(r) for r in want["expected_fields"].itertuples(index=False)]
