"""Fast self-test of the benchmark at sf0.001, one query per cycle.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, QueryWorkload  # noqa: E402

SF = 0.001
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module")
def session():
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    env = bench.pin_environment(work)
    tracer = Tracer()
    tracer.install()
    spark = bench.start_spark("perfbench-selftest", env)
    yield spark, tracer, work
    bench.stop_spark(spark)


def _small(name: str):
    wl = WORKLOADS[name]()
    wl.sf = SF
    if isinstance(wl, QueryWorkload):
        wl.names = wl.names[:1]
    return wl


def _measure(session, wl, traced: bool, corrupt: bool = False):
    from perfbench import datagen

    spark, tracer, work = session
    sf_dir = datagen.ensure(os.path.join(work, "data"), wl.sf)
    return bench.measure(
        spark, wl, 1, 0.0, work, sf_dir, tracer if traced else None, corrupt
    )


@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(session, name):
    for traced, key in ((False, "end_to_end"), (True, "per_layer")):
        run, metrics, _ = _measure(session, _small(name), traced)
        assert run.failed == 0
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: bench.unit(k) for k in metrics} == want
        assert all(isinstance(v, float) for v in metrics.values())


def test_forced_wrong_result_is_counted(session):
    run, _, _ = _measure(session, _small("relational_scan"), False, corrupt=True)
    assert run.failed == 1


def test_forced_wrong_result_fails_the_command():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "issues_sink", "--seed", "1",
         "--seconds", "0", "--trace", "0", "--corrupt"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    assert json.loads(proc.stdout.splitlines()[-1])["correct"] is False


def test_loop_query_jobs_per_op_repeat(session):
    wl = _small("iterative_loops")
    wl.names = ("sssp_from_hub",)
    run, _, _ = _measure(session, wl, True)
    jobs = [o.counters["jobs"] for o in run.ops]
    assert len(jobs) >= 2 and len(set(jobs)) == 1 and jobs[0] > 1
