"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

They share one Spark session and one stub, and run each workload on inputs
a few records in size.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import gen
import harness
import workloads
from spans import Tracer


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generators_are_deterministic_per_seed(tmp_path, name):
    harness.prepare_env(str(tmp_path / "work"))
    cls = workloads.WORKLOADS[name]
    digests = [_digest(cls(seed, str(tmp_path / f"{seed}-{i}"), Tracer(False)).root)
               for i, seed in enumerate((7, 7, 8))]
    assert digests[0] and digests[0] == digests[1]
    assert digests[0] != digests[2]


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    harness.prepare_env(work)
    stub = harness.StubProcess(workloads.STUB_LATENCY_MS)
    spark = harness.start_spark(work)
    yield spark, stub, tmp_path_factory
    stub.close()
    harness.stop_spark(spark)


def _small(cls, **sizes):
    return type(cls.__name__, (cls,), sizes)


SMALL = {
    "instruction_pipeline": _small(workloads.InstructionPipeline, paths=(
        _small(workloads.RunConfigPath, N_RECORDS=8),
        _small(workloads.ServingPath, N_RECORDS=8),
        _small(workloads.StreamPath, PER_FILE=4))),
    "corpus_dedup": _small(workloads.CorpusDedup, N_DOCS=200, N_VECS=200),
}


def _traced_op(env, name):
    """One traced operation of the small workload; returns the workload,
    its ops and the stub's counters."""
    spark, stub, tmp = env
    tracer = Tracer(True)
    wl = SMALL[name](3, str(tmp.mktemp(name)), tracer)
    wl.setup(spark, stub if wl.uses_stub else None)
    try:
        stub.reset()
        wl.patch()
        try:
            ops = wl.measure(0.0)
        finally:
            tracer.unpatch()
        stats = stub.stats()
        assert ops.failed == 0 and wl.check()[1] == 0
    finally:
        wl.teardown()
    return wl, ops, stats


def test_run_config_requests_per_call_is_k_plus_3(env):
    """run_config re-executes the pipeline once per sink and once per
    ChatML instruction: K map instructions + 1 reduce, 3 sinks -> K + 3."""
    spark, _, _ = env
    wl, ops, stats = _traced_op(env, "instruction_pipeline")
    metrics = wl.layer_metrics(ops, stats, harness.SparkMonitor(spark))
    assert metrics["runner.llm_requests_per_call"] == len(gen.PIPE[0]) + 3


def test_mockllm_run_sends_no_stub_requests(env):
    from instructionspipe_spark.plans.llm_kernel import MockLlm

    spark, stub, tmp = env
    path = workloads.RunConfigPath(4, str(tmp.mktemp("mock") / "batch"), Tracer(False))
    path.setup(spark, stub)
    stub.reset()
    path.run_config("mock", llm=MockLlm(workloads.MODEL))
    assert stub.stats()["requests"] == 0


@pytest.mark.parametrize("name", sorted(SMALL))
def test_self_times_sum_within_wall(env, name):
    """Within each trace (an operation, or one serving request), the self
    times of its spans add up to no more than the trace's wall."""
    wl, ops, stats = _traced_op(env, name)
    tracer = wl.tracer
    if wl.uses_stub:
        tracer.attach_busy("llm_kernel.request", stats["intervals"])
    wl.attach(ops)
    self_time = tracer.self_times()
    roots = [sp for sp in tracer.spans if sp["parent"] is None]
    assert roots
    for root in roots:
        trace = [sp for sp in tracer.spans if sp["trace"] == root["trace"]]
        assert all(self_time[sp["id"]] >= -1e-9 for sp in trace)
        assert sum(self_time[sp["id"]] for sp in trace) <= root["end"] - root["start"] + 1e-6
    op_roots = [sp for sp in roots if sp["name"] in ("pipeline.operation", "corpus.pass")]
    assert len(op_roots) == len(ops.walls)
    assert all(sp["end"] - sp["start"] <= wall for sp, wall in zip(op_roots, ops.walls))


def test_stub_down_is_reported_as_failed(env):
    """With the stub gone every chat call fails. The failures are counted,
    and the result line reports them as incorrect instead of raising."""
    import run

    spark, _, tmp = env
    dead = harness.StubProcess(workloads.STUB_LATENCY_MS)
    dead.close()
    wl = SMALL["instruction_pipeline"](5, str(tmp.mktemp("down")), Tracer(False))
    wl.setup(spark, dead)
    try:
        ops = wl.measure(0.0)
    finally:
        wl.teardown()
    attempted, failed, ran = run.tally([ops], *wl.check())
    assert failed > 0
    values = {"op_p50_ms": ops.p50_ms()} if ran else None
    result = json.loads(run.final_line(values, [{"name": "op_p50_ms", "unit": "ms"}], attempted, failed))
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (attempted, failed)
