"""Tests of the benchmark itself (not of the library).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end at the tiny scale, so
this file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
SIZES = {"documents": 300, "events": 1000, "pages": 800}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    files = [f for f in cmp.common_files if f != "manifest.json"]
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return (not mismatch and not errors and not cmp.left_only
            and not cmp.right_only
            and all(_same_tree(os.path.join(a, d), os.path.join(b, d))
                    for d in cmp.common_dirs))


@pytest.mark.parametrize("table", sorted(gen.TABLES))
def test_generator_is_a_function_of_the_seed(table, tmp_path):
    n = SIZES[table]
    a = gen.generate(table, 7, n, str(tmp_path / "a"))
    b = gen.generate(table, 7, n, str(tmp_path / "b"))
    c = gen.generate(table, 8, n, str(tmp_path / "c"))
    assert _same_tree(a["dir"], b["dir"])
    assert not _same_tree(a["dir"], c["dir"])


def test_generator_cache_is_keyed_not_just_marked(tmp_path):
    root = str(tmp_path)
    first = gen.generate("events", 3, 500, root)
    assert not first["cached"]
    assert gen.generate("events", 3, 500, root)["cached"]
    # a manifest from another generator version is stale
    man = os.path.join(first["dir"], "manifest.json")
    with open(man) as f:
        m = json.load(f)
    m["key"]["source"] = "0" * 16
    with open(man, "w") as f:
        json.dump(m, f)
    assert not gen.generate("events", 3, 500, root)["cached"]
    # so is one whose data files changed underneath it
    with open(first["path"], "ab") as f:
        f.write(b"x")
    assert not gen.generate("events", 3, 500, root)["cached"]


def test_metric_names_and_spec_match_the_runner():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer]:
        assert NAME_RE.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_curation_reference_keeps_pages_without_entities():
    # the page renderer writes "e" as "&#101;", so the first page has no
    # "&" at all; both pass the Gopher filter and keep their text
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(71818::BIGINT, 'agg a agg a agg a a agg a agg dup', 'en', "
        "'src18', 33::BIGINT), "
        "(5::BIGINT, 'the data table has a fast scan and a slow sort key', "
        "'en', 'src5', 50::BIGINT)) t(doc_id, text, lang, source, n_chars)")
    rows = con.execute(
        "SELECT doc_id, clean_text FROM "
        f"({workloads.curation_reference_sql()}) ORDER BY doc_id").fetchall()
    assert rows == [
        (5, "the data table has a fast scan and a slow sort key"),
        (71818, "agg a agg a agg a a agg a agg dup")]


def test_nesting_check_flags_a_span_outside_its_parent():
    tr = spans.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert spans.nesting_violations(tr.spans) == []
    tr.spans[1]["end"] = tr.spans[0]["end"] + 1.0
    assert spans.nesting_violations(tr.spans) == ["inner"]


def test_runner_refuses_a_tree_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_smoke_run(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True, p.stdout
    assert result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == set(run.PER_LAYER)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.PER_LAYER[name]
        assert isinstance(m["value"], float)
    printed = {ln.split()[1]: ln.split()[-1] for ln in lines
               if ln.startswith(("metric ", "layer "))}
    for name, unit in {**run.E2E, **run.PER_LAYER}.items():
        assert printed.get(name) == unit, name
    assert any(ln.startswith("verify: ok") for ln in lines)
    m = result["metrics"]
    if workload == "curation":
        assert m["ops.html.identical_text_frac"]["value"] == 1.0
    else:
        assert m["engine.checkpoint.buckets_resumed"]["value"] == (
            workloads.N_BUCKETS - workloads.CRASH_AFTER)
        assert m["engine.checkpoint.recomputed_rows"]["value"] == 0.0

    # every span of the traced run lies inside its parent
    path = next(ln.rsplit(" ", 1)[-1] for ln in lines
                if ln.startswith("trace: spans written to"))
    with open(path) as f:
        recs = [json.loads(x) for x in f]
    assert recs
    by_id = {r["id"]: r for r in recs}
    for r in recs:
        assert r["start"] <= r["end"]
        if r["parent"] is not None:
            parent = by_id[r["parent"]]
            assert parent["start"] <= r["start"] <= r["end"] <= parent["end"]
            assert parent["run_id"] == r["run_id"]
