"""Tests of the benchmark itself: seeded inputs, declared names, the
tracer, the memory collector, and a tiny run of every workload.

    python -m pytest x12bench/tests -q

The smoke runs start Spark once per workload and trace mode (about a
minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from x12bench import corpus, procmem, run, trace, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def test_corpus_is_a_function_of_the_seed():
    a, b = corpus.small_files(5, 30), corpus.small_files(5, 30)
    assert a == b
    assert corpus.small_files(6, 30).files != a.files
    assert a.interchanges == 30
    assert a.transactions == len(a.expected_silver) == sum(a.tx_by_file.values())
    assert set(a.tx_by_type) == {
        "837", "835", "834", "270", "271", "276", "277", "278", "279"
    }
    # the streaming workload lands prefixes of one corpus
    assert corpus.small_files(5, 10).files == a.files[:10]
    held = corpus.small_files_holding(5, 40)
    assert held.transactions >= 40 > held.transactions - held.tx_by_file[held.files[-1][0]]
    assert held.files == a.files[: len(held.files)]


def test_names_match_benchmark_json():
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    layers = (
        workloads.batch_layer_names()
        + workloads.stream_layer_names()
        + workloads.COMMON_LAYER_NAMES
    )
    assert sorted(layers) == sorted(m["name"] for m in SPEC["per_layer"])
    e2e = run.end_to_end(workloads.Outcome(), [1.0])
    assert sorted(e2e) == sorted(m["name"] for m in SPEC["end_to_end"])


def test_tracer_spans_and_patches():
    tracer = trace.Tracer()
    calls = []
    write_marts = trace._per_mart(tracer)(lambda marts, out: calls.append((list(marts), out)))
    with tracer.root_span("run.pipeline"):
        write_marts({"a": None, "b": None}, "/out")
    # one original call per mart, in order, each under its own span
    assert calls == [(["a"], "/out"), (["b"], "/out")]
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["gold.a"].parent == by_name["gold.write"].span_id
    assert by_name["gold.write"].parent == by_name["run.pipeline"].span_id
    assert tracer.overhead_s >= 0.0

    original = corpus.write_files
    patches = trace.Patches()
    patches.set("x12bench.corpus", "write_files", trace._spanned(tracer, "land"))
    assert corpus.write_files is not original
    patches.restore()
    assert corpus.write_files is original


def test_peak_rss_sums_the_process_tree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procmem.descendants(os.getpid())
        assert procmem.peak_rss_mb() > procmem.peak_rss_mb(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=30)


def _bench(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "x12bench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "x12bench"), tmp_path / "x12bench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _bench(["--workload", "batch_small_files", "--seed", "1", "--seconds", "1"], str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_emits_every_metric(workload, trace_flag):
    p = _bench(
        ["--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace_flag), "--tiny"],
        ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace_flag else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    values = {n: m["value"] for n, m in result["metrics"].items()}
    if not trace_flag:
        assert all(v > 0 for v in values.values()), values
    elif workload == "batch_small_files":
        stages = ("bronze.write_s", "silver.write_s", "gold.write_s", "ack997.write_s",
                  "run.residual_s")
        assert sum(values[s] for s in stages) == pytest.approx(values["run.pipeline_s"])
        assert values["ack997.acks"] == values["bronze.files"] > 0
        assert values["ack997.valid_ratio"] == 1.0
    else:
        assert values["ingest.input_rows"] > 0
        assert values["merge.state_files"] > 0
