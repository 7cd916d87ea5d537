"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The last two tests start Spark (a traced run per workload and one
etl_write run, about three minutes on four cores).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _take(gen, n):
    return list(itertools.islice(gen, n))


@pytest.mark.parametrize("make", [workloads.interactive_ops, workloads.etl_ops,
                                  workloads.corpus_ops])
def test_same_seed_same_sequence(make):
    if make is workloads.corpus_ops:          # only the eval slice varies
        seeds = [next(make(s))[0]["eval_slice"] for s in range(6)]
        assert len(set(seeds)) > 1
        assert _take(make(7), 3) == _take(make(7), 3)
        return
    assert _take(make(7), 6) == _take(make(7), 6)
    assert _take(make(7), 6) != _take(make(8), 6)


@pytest.mark.parametrize("make", [workloads.interactive_ops, workloads.etl_ops,
                                  workloads.corpus_ops])
def test_every_round_has_the_same_mix(make):
    first, *rounds = _take(make(3), 6)
    assert len(first) == 1
    mixes = {tuple(sorted(op.get("template", op.get("entry", op["kind"]))
                          for op in r)) for r in rounds}
    assert len(mixes) == 1


def test_corpus_times_warm_rounds_only():
    _, first, *rounds = _take(workloads.corpus_ops(3), 4)
    assert all(op["warmup"] for op in first)
    assert not any(op["warmup"] for r in rounds for op in r)


def test_corpus_slice_varies_with_seed():
    slices = {next(workloads.corpus_ops(s))[0]["eval_slice"]
              for s in range(20)}
    assert slices == set(range(workloads.EVAL_SLICES))


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"]
                for m in bench["end_to_end"] + bench["per_layer"]}
    assert declared == metrics.UNITS
    assert [w["name"] for w in bench["workloads"]] == [
        "interactive_read", "etl_write", "corpus_batch"]
    for name in declared:
        assert NAME.fullmatch(name), name


def test_etl_model_follows_the_auto_id_contract():
    model = workloads.EtlModel()
    model.apply({"kind": "write", "rows": [
        {"k": 1.0, "v": "a", "amount": 1.0}, {"k": 2.0, "v": "b",
                                              "amount": 2.0}]})
    model.apply({"kind": "upsert", "rows": [
        {"k": 2.0, "v": "B", "amount": 3.0}, {"k": 5.0, "v": "e",
                                              "amount": 4.0}]})
    model.apply({"kind": "write", "rows": [{"k": 9.0, "v": "z",
                                            "amount": 0.5}]})
    assert model.expected({"kind": "read", "table": "plain"}) == [
        [1.0, 1, "a", 1.0], [2.0, None, "B", 3.0], [5.0, None, "e", 4.0],
        [9.0, 2, "z", 0.5]]
    assert model.expected({"kind": "id_stats"}) == [4, 2, 2, 1, 2]


def test_etl_rounds_write_measured_batches_and_compact_once():
    first, *rounds = _take(workloads.etl_ops(5), 4)
    assert [len(op["rows"]) for op in first] == [workloads.BATCH_ROWS]
    seen = {int(r["k"]) for r in first[0]["rows"]}
    for ops in rounds:
        assert [op["kind"] for op in ops[-2:]] == ["compact", "read"]
        writes = ops[:-2][0::2]
        assert all(op["kind"] in workloads.WRITE_KINDS for op in writes)
        assert all(op["kind"] not in workloads.WRITE_KINDS
                   for op in ops[:-2][1::2])
        for op in writes:
            keys = {int(r["k"]) for r in op["rows"]}
            if op["kind"] == "upsert":
                assert len(op["rows"]) == workloads.UPSERT_KEYS
                assert len(keys & seen) == workloads.UPSERT_KEYS // 2
            else:
                assert len(op["rows"]) == workloads.BATCH_ROWS
            if op["table"] == "plain":
                seen |= keys
        assert sum(op["kind"] == "write" for op in writes) == (
            workloads.APPENDS_PER_COMPACT)


def test_read_parts_add_up_to_the_wall_time():
    spans = [
        {"name": "op.read", "start": 0.0, "end": 1.0, "parent": None,
         "spark": {"job_intervals": [(0.5, 0.7), (0.6, 0.8)]}},
        {"name": "table.query.build", "start": 0.0, "end": 0.3, "parent": 0},
        {"name": "catalyst.plan", "start": 0.3, "end": 0.4, "parent": 0},
        {"name": "spark.exec", "start": 0.4, "end": 0.9, "parent": 0},
    ]
    parts = metrics.exec_split(spans, 0)
    assert parts["build"] == pytest.approx(0.3)
    assert parts["plan"] == pytest.approx(0.1)
    assert parts["job_wall"] == pytest.approx(0.3)
    assert (parts["build"] + parts["plan"] + parts["job_wall"]
            + parts["gap"]) == pytest.approx(parts["wall"])


def _interactive_ops(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"c_custkey": [1, 2, 3],
                             "c_acctbal": [5.0, 7.5, 1.25]}),
                   str(tmp_path / "customer.parquet"))
    sql = "SELECT c_custkey, c_acctbal FROM customer ORDER BY c_acctbal DESC"
    op = {"kind": "execute", "sql": sql}
    right = [[2, 7.5], [1, 5.0], [3, 1.25]]
    return [{"id": i, "kind": "execute", "op": op, "error": None,
             "result": right} for i in range(3)]


def test_right_answers_pass(tmp_path):
    ops = _interactive_ops(tmp_path)
    checks.check_ops("interactive_read", ops, str(tmp_path), "-")
    assert [o["ok"] for o in ops] == [True, True, True]


def test_wrong_expected_result_is_a_failed_operation(tmp_path):
    ops = _interactive_ops(tmp_path)
    checks.check_ops("interactive_read", ops, str(tmp_path), "-", True)
    assert [o["ok"] for o in ops] == [False, True, True]
    ops = _interactive_ops(tmp_path)
    ops[1]["result"] = [[2, 7.5], [1, 5.0]]          # a row went missing
    ops[2].update(error="RuntimeError: boom", result=None)
    checks.check_ops("interactive_read", ops, str(tmp_path), "-")
    assert [o["ok"] for o in ops] == [True, False, False]
    for bad in ([4, 2, 2, 1, 2], [[1.0, 1, "a", 1.0]], {"digest": "ab"}):
        assert not checks.same(bad, checks.corrupt(bad))


def test_corpus_answers_compare_with_the_recorded_values():
    with open(os.path.join(BENCH, "expected.json")) as fh:
        rec = json.load(fh)
    entry = "x83_pagerank"

    def ops(digest):
        return [{"id": 0, "kind": "entry", "error": None,
                 "op": {"kind": "entry", "entry": entry},
                 "result": {"digest": digest}},
                {"id": 1, "kind": "pipeline", "error": None,
                 "op": {"kind": "pipeline", "eval_slice": 2},
                 "result": rec["funnel"]["2"]}]

    right = ops(rec["entries"][entry])
    checks.check_ops("corpus_batch", right, "", rec["data_key"])
    assert [o["ok"] for o in right] == [True, True]
    wrong = ops("0" * 64)
    checks.check_ops("corpus_batch", wrong, "", rec["data_key"])
    assert [o["ok"] for o in wrong] == [False, True]
    corrupted = ops(rec["entries"][entry])
    checks.check_ops("corpus_batch", corrupted, "", rec["data_key"], True)
    assert [o["ok"] for o in corrupted] == [False, True]
    unknown = ops(rec["entries"][entry])      # tables nothing was recorded for
    checks.check_ops("corpus_batch", unknown, "", "other-tables")
    assert [o["ok"] for o in unknown] == [False, False]


def test_a_run_measures_whole_rounds_for_its_seconds():
    assert workloads.measured_rounds("interactive_read", 10) == 4
    assert workloads.measured_rounds("etl_write", 10) == 1
    assert workloads.measured_rounds("etl_write", 16) == 2
    assert workloads.measured_rounds("corpus_batch", 10) == 1
    assert workloads.measured_rounds("corpus_batch", 1) == 1


def test_tail_percentile_leaves_ten_samples():
    assert metrics.tail_percentile(10) == 0
    assert metrics.tail_percentile(25) == 60
    assert metrics.tail_percentile(100) == 90


LAYER_SPANS = {
    "session": r"session\.get_session",
    "database": r"database\.(connect|ensure_geom_fns|register_all|"
                r"sql\.build|create_table)",
    "table read": r"table\.(query|count)\.build",
    "table write": r"table\.(write|upsert|overwrite_partitions|compact)",
    "catalyst": r"catalyst\.plan",
    "spark": r"spark\.exec",
    "pipelines": r"pipelines\.build_training_corpus",
    "extensions": r"extensions\.x\d+_\w+\.build",
}


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "datum_spark")),
                    reason="needs the datum_spark sources next to perfbench")
def test_traced_run_emits_a_span_for_every_layer():
    names = set()
    for workload in ("interactive_read", "etl_write", "corpus_batch"):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        assert out.returncode == 0, out.stderr[-2000:]
        line = json.loads(out.stdout.strip().splitlines()[-1])
        assert line["correct"] and line["failed"] == 0
        assert set(line["metrics"]) == {n for n, _ in metrics.PER_LAYER}
        spans = os.path.join(ROOT, ".perfbench", "records",
                             f"{workload}-seed3-cpus{_cpus()}-trace"
                             ".spans.jsonl")
        with open(spans) as fh:
            names |= {json.loads(s)["name"] for s in fh}
    for layer, pattern in LAYER_SPANS.items():
        assert any(re.fullmatch(pattern, n) for n in names), layer


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "datum_spark")),
                    reason="needs the datum_spark sources next to perfbench")
def test_model_check_catches_a_corrupted_expected_result():
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "etl_write", "--seed", "3", "--seconds", "1", "--corrupt-expected"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert not line["correct"] and line["failed"] == 1


def _cpus():
    import run
    return run.cpus()
