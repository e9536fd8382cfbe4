"""Smoke tests of the benchmark itself, at tiny input sizes.

    python -m pytest perfbench/tests -q

Seed handling and the BENCHMARK.json checks need no Spark; the end-to-end
tests start one JVM per benchmark run (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import gen, workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("make,name", [(gen.make_etl, "etl_bulk"), (gen.make_corpus, "corpus_dedup")])
def test_seed_gives_byte_identical_inputs(tmp_path, make, name):
    size = workloads.SIZES[name]["tiny"]
    make(str(tmp_path / "a"), 7, size)
    make(str(tmp_path / "b"), 7, size)
    make(str(tmp_path / "c"), 8, size)
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert set(a) == set(c) and all(a[k] != c[k] for k in a)


def test_spec_matches_the_command():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.SIZES)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])


def _bench(args, cwd=REPO):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.SIZES))
def test_tiny_run_checks_and_reports_every_metric(workload, trace):
    proc = _bench(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 3
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert result["metrics"]["ok_frac"]["value"] == 1.0
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
    else:
        from perfbench.tracing import run_totals

        record = os.path.join(REPO, ".perfbench_runs", f"{workload}-seed3-trace1.json")
        with open(record) as f:
            rec = json.load(f)
        spans = rec["spans"]
        assert spans and all({"name", "run", "parent", "t0", "t1", "job0", "job1"} <= set(s) for s in spans)
        # every span's job count repeats exactly across the traced runs
        jobs = [{n: t["jobs"] for n, t in run_totals(spans, r["run"]).items()} for r in rec["runs"] if r["traced"]]
        assert len(jobs) >= 2 and all(j == jobs[0] for j in jobs)


def test_checks_reject_wrong_outputs(tmp_path):
    from perfbench.tracing import Tracer

    from graph_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    spark = get_spark("perfbench-smoke", extra_confs={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer(None, enabled=False)

    etl = workloads.make("etl_bulk", "tiny")
    etl.setup(str(tmp_path / "etl_in"), 5)
    handle = etl.run(spark, str(tmp_path / "etl_out"), tracer)
    assert etl.check(spark, handle)[0]
    etl.inputs.expected_edges["CONTAINS"] = (0, 0, 0)
    ok, problems, _ = etl.check(spark, handle)
    assert not ok and any("CONTAINS" in p for p in problems)

    corpus = workloads.make("corpus_dedup", "tiny")
    corpus.setup(str(tmp_path / "c_in"), 5)
    handle = corpus.run(spark, str(tmp_path / "c_out"), tracer)
    ok, problems, stats = corpus.check(spark, handle)
    assert ok, problems
    assert 0 < stats["dedup_recall"] <= 1 and 0 < stats["ann_recall_at_k"] <= 1
    corpus.release(handle)
    # a wrong expectation must fail the quality-filter check
    shutil.rmtree(str(tmp_path / "c_out"))
    corpus.inputs.kept_ids = set(list(corpus.inputs.kept_ids)[1:])
    handle = corpus.run(spark, str(tmp_path / "c_out"), tracer)
    ok, problems, _ = corpus.check(spark, handle)
    assert not ok and any("quality filter" in p for p in problems)
    corpus.release(handle)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(["--workload", "etl_bulk", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
