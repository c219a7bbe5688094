"""The benchmark's workloads and the closed-loop op runner.

Every op runs under its own Spark job group and is fully materialized:
query and read ops end in a ``noop`` write of every output column;
write ops are the sink's own keyed-tree write. Between ops all cached
and checkpointed blocks are released, so each op pays for its own
materialization.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid
from dataclasses import dataclass, field

import numpy as np

from perfbench import counters
from perfbench.oracle import WrongResult, assert_same, canonical_records
from perfbench.trace import layer_self_times

# one graph loop and the entity-resolution loop: the run budget holds a
# cold gate pass, a warm-up pass and a timed pass of these two only
ITERATIVE = ("sssp_from_hub", "er_clusters")
RELATIONAL = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q21_last_to_ship", "flagship_company_positions",
    "company_issue_summary",
)
STREAMING = (
    "streaming_neardup_admission", "streaming_user_accounting",
    "streaming_tumbling_1h", "streaming_twa_user_value",
    "streaming_purchase_click_left_join",
)


def noop(df) -> None:
    """Execute every output column of ``df`` and write nothing."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    op_id: str
    kind: str  # "query", "write" or "read"
    name: str
    latency_s: float
    traced: bool
    counters: dict | None = None
    layers: dict | None = None
    spans: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Runner:
    """Runs ops back to back in one client and keeps their records.

    ``paused_s`` accumulates the benchmark's own work between ops (result
    checks, counter reads), which the timed window excludes.
    """

    def __init__(self, spark, work: str, tracer=None, corrupt: bool = False) -> None:
        self.spark = spark
        self.work = work
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.corrupt = corrupt
        self.ops: list[Op] = []
        self.paused_s = 0.0
        self.failed = 0
        self.attempted = 0

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, layer, fn, *args, **kwargs)

    def release(self) -> None:
        from pac_spark import cache

        cache.release_caches(all_generations=True)
        self.spark.catalog.clearCache()

    def op(self, kind: str, name: str, build, action) -> tuple[Op, object]:
        # job-group ids must be unique in the session, across runners too
        op_id = f"{kind}-{name}-{uuid.uuid4().hex[:12]}"
        self.sc.setJobGroup(op_id, f"perfbench {kind} {name}", interruptOnCancel=False)
        traced = self.tracer is not None and self.tracer.enabled
        if self.tracer is not None:
            self.tracer.op_id = op_id
        t0 = time.perf_counter()
        value = build()
        result = action(value)
        rec = Op(op_id, kind, name, time.perf_counter() - t0, traced)
        if self.tracer is not None:
            # the release after the op is not part of its latency, so
            # it is kept out of the op's spans and timed on its own
            self.tracer.op_id = None
        r0 = time.perf_counter()
        self.release()
        rec.extra["release_s"] = time.perf_counter() - r0
        self.ops.append(rec)
        self.attempted += 1
        if self.tracer is not None:
            p0 = time.perf_counter()
            rec.counters = counters.op_counters(self.sc, op_id, rec.latency_s)
            if traced:
                rec.layers = layer_self_times(self.tracer, op_id)
            self.paused_s += time.perf_counter() - p0
        return rec, (value, result)

    def check(self, fn, *args) -> None:
        """Run one result check outside the timed window; a mismatch
        counts as a failed op."""
        p0 = time.perf_counter()
        try:
            fn(*args)
        except WrongResult as exc:
            self.failed += 1
            print(f"perfbench: WRONG RESULT: {exc}", file=sys.stderr, flush=True)
        finally:
            self.paused_s += time.perf_counter() - p0


class QueryWorkload:
    """Registry queries at one scale; one cycle runs each query once in a
    seeded order."""

    def __init__(self, names: tuple[str, ...], sf: float) -> None:
        self.names = names
        self.sf = sf

    def setup(self, run: Runner, queries, oracles, sf_dir: str, duck) -> None:
        self.q, self.sf_dir = queries, sf_dir
        for i, name in enumerate(self.names):
            # the gate pass is also the first warm-up pass at this scale
            got = queries[name](run.spark, sf_dir).toPandas()
            run.release()
            if run.corrupt and i == 0:
                got = got.iloc[:-1]
            run.attempted += 1
            run.check(assert_same, name, got, duck.sql(oracles[name]).df())

    def attribute(self, op: Op) -> None:
        pass

    def summary(self, ops: list[Op]) -> dict:
        return {}

    def cycle(self, run: Runner, rng: np.random.Generator) -> None:
        for i in rng.permutation(len(self.names)):
            self.run_query(run, self.names[i])

    def run_query(self, run: Runner, name: str) -> None:
        run.op(
            "query", name,
            lambda: run.call("registry.query", "registry", self.q[name], run.spark, self.sf_dir),
            lambda df: run.call("spark.noop", "spark", noop, df),
        )


class SinkWorkload:
    """The reference pipeline's keyed tree: seeded patch writes, each
    followed by a point read of one patched key, plus streaming drains.

    A cycle runs each drain once and one write-then-read pair, in a
    seeded order. The drains stand in for the separate stream workload,
    which the run budget does not hold; they sit here, not among the
    graph loops, so that a change which speeds the loops but slows the
    drains does not cancel out within one workload.
    """

    KEY = "company_id"
    SOURCE = "flagship_company_positions"

    def __init__(self, sf: float, patch_keys: int, drains: tuple[str, ...]) -> None:
        self.sf = sf
        self.k = patch_keys
        self.drains = QueryWorkload(drains, sf)

    def setup(self, run: Runner, queries, oracles, sf_dir: str, duck) -> None:
        from pac_spark.sources import sinks

        self.drains.setup(run, queries, oracles, sf_dir, duck)

        self.sinks = sinks
        self.path = os.path.join(run.work, "sink_tree")
        shutil.rmtree(self.path, ignore_errors=True)
        base = queries[self.SOURCE](run.spark, sf_dir)
        self.schema = base.schema
        rows = base.toPandas()
        run.attempted += 1
        run.check(assert_same, self.SOURCE, rows, duck.sql(oracles[self.SOURCE]).df())
        report = sinks.json_tree_write(run.spark, base, self.path, self.KEY)
        run.release()
        if not report.verified:
            raise WrongResult(f"initial tree write not verified: {report}")
        self.cols = list(rows.columns)
        self.current: dict[int, list[dict]] = {}
        for rec in rows.to_dict("records"):
            rec = {c: v.item() if hasattr(v, "item") else v for c, v in rec.items()}
            self.current.setdefault(rec[self.KEY], []).append(rec)
        self.keys = sorted(self.current)

    def _patch(self, rng: np.random.Generator, keys) -> list[dict]:
        """The last-written rows of ``keys`` with new vote totals. The
        sink stores rows as given, so ``total`` and ``position`` are
        left as they were."""
        out = []
        for key in keys:
            for rec in self.current[key]:
                rec = dict(rec)
                for col in ("against", "neutral", "pro"):
                    rec[col] = round(rec[col] + int(rng.integers(0, 100_000)) / 100.0, 2)
                out.append(rec)
        return out

    def cycle(self, run: Runner, rng: np.random.Generator) -> None:
        names = self.drains.names
        for i in rng.permutation(len(names) + 1):
            if i < len(names):
                self.drains.run_query(run, names[i])
            else:
                self.write_read(run, rng)

    def write_read(self, run: Runner, rng: np.random.Generator) -> None:
        keys = [int(k) for k in rng.choice(self.keys, size=self.k, replace=False)]
        patch = self._patch(rng, keys)
        rec, (_, report) = run.op(
            "write", self.SOURCE,
            lambda: run.spark.createDataFrame(
                [tuple(r[c] for c in self.cols) for r in patch], self.schema
            ),
            lambda df: self.sinks.json_tree_write(run.spark, df, self.path, self.KEY, verify=True),
        )
        for key in keys:
            self.current[key] = [r for r in patch if r[self.KEY] == key]
        run.check(self._check_write, rec, report, keys)

        key = keys[int(rng.integers(0, len(keys)))]
        rec, (df, _) = run.op(
            "read", self.SOURCE,
            lambda: self.sinks.json_tree_read(run.spark, self.path, key=str(key)),
            lambda df: run.call("spark.noop", "spark", noop, df),
        )
        run.check(self._check_read, df, key, run.corrupt)

    def attribute(self, op: Op) -> None:
        """Split a traced write into the file write and the read-back
        verification that follows it inside ``json_tree_write``."""
        call = [s for s in op.spans if s.name == "sinks.json_tree_write"]
        files = [s for s in op.spans if s.name == "sinks.json"]
        if op.kind == "write" and call and files:
            op.extra["write_s"] = files[-1].end - call[0].start
            op.extra["verify_s"] = call[0].end - files[-1].end

    def summary(self, ops: list[Op]) -> dict:
        """Latency per op type: writes and reads share the sink layer, so
        a change that speeds one at the other's cost shows here."""
        return {
            f"{label}_p50_s": round(float(np.median([o.latency_s for o in ops if o.kind == kind])), 4)
            for kind, label in (("write", "write"), ("read", "read"), ("query", "drain"))
        }

    def _check_write(self, rec: Op, report, keys: list[int]) -> None:
        rec.extra["files_written"] = sum(
            len([f for f in os.listdir(os.path.join(self.path, f"__key={k}")) if f.startswith("part-")])
            for k in keys
        )
        rec.extra["rows_written"] = report.rows_written
        if not report.verified:
            raise WrongResult(f"write {rec.op_id} not verified: {report}")

    def _check_read(self, df, key: int, corrupt: bool) -> None:
        got = [
            {c: r[c] for c in self.cols}
            for r in (row.asDict() for row in df.collect())
        ]
        if corrupt:
            got = got[:-1]
        if canonical_records(got) != canonical_records(self.current[key]):
            raise WrongResult(f"read of key {key} differs from the rows last written")


# BENCHMARK.json runs iterative_loops and issues_sink, which also runs
# one drain through each streaming entry point: ``run_to_memory`` and
# the stateful ``_run_ivm_fold``.
# relational_scan and stream_drain run by name: with a cold oracle pass
# of 20-40 s in every run, four workloads do not fit the run budget.
WORKLOADS = {
    "iterative_loops": lambda: QueryWorkload(ITERATIVE, 0.01),
    "relational_scan": lambda: QueryWorkload(RELATIONAL, 0.1),
    "issues_sink": lambda: SinkWorkload(
        0.001, 10, ("streaming_tumbling_1h", "streaming_user_accounting")
    ),
    "stream_drain": lambda: QueryWorkload(STREAMING, 0.01),
}
