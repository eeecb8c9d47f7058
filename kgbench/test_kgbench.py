"""Self-tests for the benchmark, at a tiny input size.

    python -m pytest kgbench/ -q

They check that every end-to-end and per-layer metric in BENCHMARK.json is
emitted with its unit, that the correctness gate is not vacuous, and that
the command refuses what the benchmark contract says it must refuse.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench(*args: str, cwd: str = ROOT, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=timeout)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_mirrors_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS) == list(run.WORKLOAD_NAMES)
    assert [w["why"] for w in spec["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--size", "tiny"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {n: u for n, u, *_ in END_TO_END} == {n: m["unit"] for n, m in res["metrics"].items()}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric():
    res = _result(_bench("--workload", "batch_build", "--seed", "3", "--seconds", "1",
                         "--trace", "1", "--size", "tiny"))
    assert res["correct"] and res["failed"] == 0
    assert {n: u for n, u, _ in PER_LAYER} == {n: m["unit"] for n, m in res["metrics"].items()}
    m = {n: v["value"] for n, v in res["metrics"].items()}
    # batch_build drives every layer, the storage ones included
    for name in ("order.busy_s", "extract.busy_s", "link.busy_s", "cc.busy_s",
                 "materialize.busy_s", "io.write_s", "io.read_s", "stream.batches",
                 "session.start_s", "session.peak_rss_mb"):
        assert m[name] > 0, name
    assert m["run.recomputed_stages"] == 4


def test_gate_reports_one_dropped_edge_row(tmp_path):
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from kgp.pipeline.exec import build_graph
    from kgp.session import get_spark

    import gate
    from inputs import make_inputs, oracle_tables
    from workloads import Context

    wl = WORKLOADS["batch_build"]
    inp = make_inputs(wl.tiny, 5, str(tmp_path))
    ref = oracle_tables(inp)
    spark = get_spark(master="local[2]", app_name="kgbench-selftest")
    try:
        ctx = Context(spark, inp, str(tmp_path), spark.sparkContext.defaultParallelism)
        want = {"edges": gate.reference_digest(spark, ref["edges"], gate.EDGE_COLS)}
        edges = build_graph(spark, *ctx.read_inputs())["edges"].localCheckpoint(eager=True)
        assert gate.mismatches({"edges": gate.digest(edges, gate.EDGE_COLS)}, want) == []
        dropped = edges.exceptAll(edges.limit(1))
        assert gate.mismatches({"edges": gate.digest(dropped, gate.EDGE_COLS)}, want) == ["edges"]
    finally:
        spark.stop()


def test_refuses_more_cores_than_nproc():
    proc = _bench("--workload", "batch_build", "--seed", "1", "--seconds", "1",
                  "--cores", str(len(os.sched_getaffinity(0)) + 1))
    assert proc.returncode == 2 and proc.stdout == ""


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "kgbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "kgbench/run.py", "--workload", "batch_build",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
