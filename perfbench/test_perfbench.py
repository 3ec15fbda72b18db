"""Tests for the benchmark's own code: input generators, the span
arithmetic, SQL-metric parsing and BENCHMARK.json's agreement with the
metrics the runner emits.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import host  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
from spans import Span, Tracer, covered, children_of, parse_sql_metric, self_times  # noqa: E402


def _read_tree(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


def test_corpus_is_byte_identical_for_a_seed(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), seed=5, n_docs=150)
    b = corpus.write_corpus(str(tmp_path / "b"), seed=5, n_docs=150)
    c = corpus.write_corpus(str(tmp_path / "c"), seed=6, n_docs=150)
    assert _read_tree(a.root) == _read_tree(b.root)
    assert _read_tree(a.root) != _read_tree(c.root)
    assert a.expected == b.expected and a.malformed == b.malformed
    assert sum(a.forms.values()) == a.docs == 150


def test_corpus_holds_exact_form_shares_and_at_least_one_truncated_file(tmp_path):
    docs = corpus.write_corpus(str(tmp_path / "a"), seed=2, n_docs=100)
    assert docs.forms == corpus.FORM_MIX and docs.malformed == 1
    small = corpus.write_corpus(str(tmp_path / "b"), seed=2, n_docs=7)
    assert sum(small.forms.values()) == 7 and small.malformed == 1


def test_peak_sampler_keeps_the_highest_sample():
    values = iter([3, 9, 4])
    sampler = host.PeakSampler(lambda: next(values, 0), interval_s=0.01).start()
    deadline = time.monotonic() + 5
    while sampler.peak < 9 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert sampler.stop() == 9


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    rows = tables.write_tables(str(tmp_path / "a"), seed=3, scale=0.001)
    tables.write_tables(str(tmp_path / "b"), seed=3, scale=0.001)
    assert _read_tree(str(tmp_path / "a")) == _read_tree(str(tmp_path / "b"))
    assert rows["lineitem"] == 6000 and rows["documents"] == 500


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from etl_sample_spark import get_spark

    session = get_spark("perfbench-tests")
    session.sparkContext.setLogLevel("ERROR")
    yield session


def test_expected_counts_match_the_batch_pipeline(spark, tmp_path):
    from etl_sample_spark.pipeline import run_batch_pipeline
    from workloads import parquet_stats

    # Seed chosen so the small corpus holds every form and a malformed file.
    docs = corpus.write_corpus(str(tmp_path / "in"), seed=11, n_docs=120)
    assert set(docs.forms) == set(corpus.FORM_MIX) and docs.malformed > 0
    out = str(tmp_path / "out")
    counts = run_batch_pipeline(spark, docs.root, parquet_out=f"{out}/star", dead_letter_dir=f"{out}/dead")
    assert counts == {**docs.expected_tables(), "__quarantined": docs.malformed}
    for table, want in docs.expected_tables().items():
        assert parquet_stats(f"{out}/star/{table}")[0] == want, table
    assert parquet_stats(f"{out}/dead")[0] == docs.malformed


def _span(i, parent, start, end, name="s"):
    return Span(id=i, name=name, parent=parent, start=start, end=end)


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # overlaps its sibling 2 on [3, 4]
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 2.0, 3.0),
    ]
    kids = children_of(tree)
    assert covered(tree[0], kids[0]) == pytest.approx(7.0)
    assert self_times(tree) == pytest.approx({0: 3.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 1.0})


def test_tracer_nests_spans_and_patches_and_restores_functions():
    import spans

    tracer = Tracer("t")
    wrapped = tracer.wrap(lambda: {"a": 1, "b": 2}, "layer.call")
    with tracer.span("pass"):
        wrapped()
    outer, inner = tracer.spans
    assert inner.parent == outer.id and inner.attrs["items"] == 2
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert set(tracer.to_json()["self_s"]) == {"pass", "layer.call"}

    tracer.install([("spans", "parse_sql_metric", "spans.parse", None)])
    assert spans.parse_sql_metric("3") == 3.0 and tracer.spans[-1].name == "spans.parse"
    tracer.uninstall()
    assert spans.parse_sql_metric is parse_sql_metric


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n159.1 KiB (18.3 KiB, 20.0 KiB, 22.1 KiB (stage 5.0: task 9))", 159.1 * 1024),
        ("1,000", 1000.0),
        ("12.0 B", 12.0),
        ("", 0.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in run.PER_LAYER.items()
    }
    assert [w["name"] for w in bench["workloads"]] == list(run.workloads.WORKLOADS)
