"""Self-test of the benchmark harness at tiny size (sf0.001 queries, a
500-document corpus). Run from the root of a checkout:

    python3 -m pytest perfbench -q

Checks that every metric BENCHMARK.json names is emitted with its unit and
sample count, that a corrupted result is counted as failed, and that span
self times are non-negative and fit inside their parent span.
"""

from __future__ import annotations

import json
import math
import os

import pyarrow as pa
import pytest

import run
import workloads
from tracing import Tracer

TINY = workloads.Scale(sf_divisor=1000, corpus_docs=500, min_passes=1)

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    """One traced session for the module (the event log must be on from the
    start, so run this file in its own process); each test runs its
    workload in its own directory under it."""
    cwd, env = os.getcwd(), dict(os.environ)
    root = str(tmp_path_factory.mktemp("perfbench"))
    run.isolate(root)
    ctx = workloads.Ctx(root=run.ROOT, work=root, seed=0, seconds=0, trace=True, scale=TINY)
    workloads.start_session(ctx)
    yield root
    run.stop_spark()
    os.chdir(cwd)
    os.environ.clear()
    os.environ.update(env)


def ctx_for(work: str, name: str, trace: bool, **scale) -> workloads.Ctx:
    d = os.path.join(work, name)
    os.makedirs(d)
    return workloads.Ctx(root=run.ROOT, work=d, seed=0, seconds=0, trace=trace,
                         scale=workloads.Scale(**{**TINY.__dict__, **scale}))


def check_emitted(res, trace: bool) -> dict:
    declared = SPEC["per_layer" if trace else "end_to_end"]
    metrics, samples = run.assemble(declared, res)
    assert list(metrics) == [m["name"] for m in declared]
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"]) and got["value"] >= 0, m["name"]
        assert samples[m["name"]] >= 1
        if not trace:
            assert got["value"] > 0, m["name"]
    return metrics


def check_spans(tracer: Tracer) -> None:
    assert tracer.spans
    selfs = tracer.self_times()
    for i, (span, own) in enumerate(zip(tracer.spans, selfs)):
        assert own >= 0, span.name
        kids = [selfs[j] for j, c in enumerate(tracer.spans) if c.parent == i]
        assert own + sum(kids) <= span.duration + 1e-9, span.name


def test_self_time_excludes_children():
    t = Tracer(True)
    with t.span("op", "a"):
        with t.span("child"):
            pass
        with t.span("child"):
            with t.span("grandchild"):
                pass
    check_spans(t)
    assert [s.op for s in t.spans] == ["a"] * 4
    assert Tracer(False).spans == []


def test_olap_untraced_emits_every_metric_and_counts_a_corrupt_result(work):
    corrupted = []

    def corrupt_first(tbl):
        if corrupted:
            return tbl
        corrupted.append(1)
        return tbl.append_column("corrupt", pa.array([0] * tbl.num_rows))

    res = workloads.olap(ctx_for(work, "olap0", False, mutate=corrupt_first))
    assert res.attempted == len(res.record["op_samples_s"]) == 10
    assert res.failed == 1
    check_emitted(res, trace=False)


def test_olap_traced_emits_every_layer(work):
    ctx = ctx_for(work, "olap1", True)
    res = workloads.olap(ctx)
    assert res.failed == 0
    metrics = check_emitted(res, trace=True)
    for name in ("queries.build_s", "catalyst.analysis_s", "exec.jobs", "exec.tasks",
                 "exec.executor_run_s", "collect.rows", "sources.bucketed.prep_s"):
        assert metrics[name]["value"] > 0, name
    check_spans(ctx.tracer)


def test_corpus_traced_checks_manifest_and_isolates_stages(work):
    ctx = ctx_for(work, "corpus", True)
    res = workloads.corpus(ctx)
    assert res.failed == 0, "manifest or stage isolation differs from the parent's"
    metrics = check_emitted(res, trace=True)
    for name in ("operators.text.minhash_signatures_s", "operators.text.jaccard_verify_s",
                 "operators.text.curate_s", "operators.text.lsh_candidates",
                 "corpus_pipeline.jobs", "exec.jobs"):
        assert metrics[name]["value"] > 0, name
    assert 0 < metrics["operators.text.lsh_yield"]["value"] <= 1
    check_spans(ctx.tracer)
    assert res.end_to_end["stored_mb"][0] > 0


def test_corpus_corrupt_manifest_is_counted(work):
    def drop_a_pack(m):
        m = json.loads(json.dumps(m))
        m["splits"]["train"]["packs"] -= 1
        return m

    res = workloads.corpus(ctx_for(work, "corpus_bad", False, mutate=drop_a_pack))
    assert (res.attempted, res.failed) == (1, 1)
    check_emitted(res, trace=False)
