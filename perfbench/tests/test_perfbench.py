"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402
from spans import Spans  # noqa: E402

from jsonld_spark.context import ContextCache  # noqa: E402
from jsonld_spark.sources.pages import (  # noqa: E402
    build_context_cache_entries,
    generate_pages,
)
from jsonld_spark.udfs import page_to_rows  # noqa: E402

WORKLOADS = ("extract_stock", "extract_bulky", "build_linked")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")
EVENT_LOG = os.path.join(HERE, "eventlog_small.jsonl")


def _files(path):
    return {
        f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))
    }


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corpus_is_byte_deterministic_per_seed(tmp_path, workload):
    a, meta = corpus.ensure_corpus(str(tmp_path / "a"), workload, 7, 80)
    b, _ = corpus.ensure_corpus(str(tmp_path / "b"), workload, 7, 80)
    c, _ = corpus.ensure_corpus(str(tmp_path / "c"), workload, 8, 80)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    assert meta["files"] == corpus.FILES[workload]
    assert not [f for f in os.listdir(tmp_path / "a") if ".tmp" in f]


def test_cached_corpus_is_reused(tmp_path):
    path, _ = corpus.ensure_corpus(str(tmp_path), "extract_stock", 3, 40)
    marker = os.path.join(path, "_marker")
    open(marker, "w").close()
    again, _ = corpus.ensure_corpus(str(tmp_path), "extract_stock", 3, 40)
    assert again == path and os.path.exists(marker)


def test_bulky_padding_leaves_rows_unchanged():
    cache = ContextCache(build_context_cache_entries(), version="v1")
    padded = corpus.build_rows("extract_bulky", 5, 60)
    plain = list(generate_pages(60, 5, scriptless_frac=corpus.BULKY_SCRIPTLESS_FRAC))
    assert any(len(p[2]) > corpus.BULKY_PAD_BYTES for p in padded)
    for p, q in zip(padded, plain):
        assert page_to_rows(p[0], p[2], cache) == page_to_rows(q[0], q[2], cache)


def test_build_linked_has_recrawls_and_alias_chains():
    rows = corpus.build_rows("build_linked", 5, 200)
    htmls = [r[2] for r in rows]
    assert len(htmls) - len(set(htmls)) == int(200 * corpus.RECRAWL_FRAC)
    assert any(r[0].startswith("https://alias.example.org/") for r in rows)


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid_and_documented():
    bench = _benchmark_json()
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics + bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert all(UNIT_RE.match(m["unit"]) for m in metrics)
    assert {"setup_s"} <= {m["name"] for m in bench["end_to_end"]}
    with open(os.path.join(BENCH, "layer_map.json")) as fh:
        mapped = {m["metric"] for m in json.load(fh)["layers"]}
    assert mapped == {m["name"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_decomposition_matches_page_to_rows_on_a_tiny_corpus():
    entries = build_context_cache_entries()
    pages = [(r[0], r[2]) for r in corpus.build_rows("extract_stock", 9, 60)]
    got, spans = layers.measure(pages, ContextCache(entries, version="v1"), entries, rounds=1)
    per_layer = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    for name, (value, unit) in got.items():
        assert per_layer[name] == unit, name
    assert got["funnel.pages"][0] == 60
    assert got["funnel.docs_ok"][0] <= got["funnel.scripts"][0]
    assert set(layers.LAYERS) <= set(spans.totals())


def test_decomposition_reports_a_mismatch(monkeypatch):
    entries = build_context_cache_entries()
    pages = [(r[0], r[2]) for r in corpus.build_rows("extract_stock", 9, 20)]
    monkeypatch.setattr(layers, "canonicalize_quads", lambda quads: quads[::-1])
    with pytest.raises(AssertionError, match="differ"):
        layers.measure(pages, ContextCache(entries, version="v1"), entries, rounds=1)


def test_self_time_subtracts_children():
    s = Spans()
    for name, start, end, parent in (
        ("page", 0, 100, -1),
        ("a", 10, 30, 0),
        ("b", 40, 90, 0),
        ("c", 50, 60, 2),
    ):
        s.names.append(name)
        s.starts.append(start)
        s.ends.append(end)
        s.parents.append(parent)
    assert s.self_ns() == [30, 20, 40, 10]
    with s.span("outer"):
        with s.span("inner"):
            pass
    assert s.parents[-1] == len(s.names) - 2


def test_eventlog_maps_sql_metrics_to_plan_nodes():
    ev = eventlog.read(EVENT_LOG)
    tasks = ev.tasks_in("pass")
    assert tasks and ev.group_jobs["pass"]
    py_tasks = ev.tasks_with(tasks, "MapInPandas")
    assert 0 < len(py_tasks) < len(tasks)
    rows = ev.sql_metric(tasks, "MapInPandas", "number of output rows")
    scanned = ev.sql_metric(tasks, "Scan parquet", "number of output rows")
    passed = ev.sql_metric(tasks, "Filter", "number of output rows", "ld+json")
    assert ev.sql_metric(tasks, "MapInPandas", "data sent to Python workers") > 0
    assert ev.sql_metric(tasks, "MapInPandas", "time to run Python workers") >= 0
    assert 0 < passed < scanned < rows


def test_eventlog_reads_rolling_logs_and_refuses_compressed(tmp_path):
    lines = open(EVENT_LOG).read().splitlines(keepends=True)
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    half = len(lines) // 2
    # numeric order, not name order: events_10 follows events_2
    (roll / "events_2_app").write_text("".join(lines[half:]))
    (roll / "events_1_app").write_text("".join(lines[:half]))
    a, b = eventlog.read(EVENT_LOG), eventlog.read(str(roll))
    assert [t.accums for t in a.tasks] == [t.accums for t in b.tasks]
    assert a.group_jobs == b.group_jobs
    packed = tmp_path / "app.zstd"
    shutil.copy(EVENT_LOG, packed)
    with pytest.raises(ValueError, match="compressed"):
        eventlog.read(str(packed))
