"""Closed-loop runner: one client, one operation at a time.

A run is: one cold set-up (JVM launch and session start, table
registration, one action), reported as ``setup_s``; the workload's untimed
warm passes; then whole passes until ``seconds`` of operation time, and at
least the workload's fewest passes, have been measured. Each operation's
output is checked after its timer stops, and ``spark.catalog.clearCache()``
runs between operations so data one operation persisted cannot serve
another.

With tracing on, the first half of the window runs untraced and the rest
traced, so the tracing overhead is measured in the same process; only the
traced passes feed the per-layer metrics. Spans (workload -> operation ->
build/action -> Spark jobs, one id per operation) stay in memory and are
written out at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import probes

FLOOR_REPS = 5
CONTROL_REPS = 3


@dataclass
class Sample:
    name: str
    kind: str
    latency: float
    build: float
    ok: bool
    py4j: int = 0
    layers: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent, op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, op=None, **attrs) -> int:
        """Record a span; returns its id (``end`` may be filled in later)."""
        self.spans.append({"id": len(self.spans), "parent": parent, "op": op,
                           "name": name, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Runner:
    """Drives one workload: set-ups, warm passes, the measured window."""

    def __init__(self, name: str, workload, start_session, seconds: float,
                 trace: bool, warm_passes: int, min_passes: int) -> None:
        self.name = name
        self.workload = workload
        self.warm_passes = warm_passes
        self.min_passes = min_passes
        self.start_session = start_session
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer = Tracer()
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.setup: dict[str, float] = {}
        self.py4j = None
        self.translate = None
        self._op_seq = 0

    # -- set-up -------------------------------------------------------

    def do_setup(self) -> None:
        """The cold set-up: start the session, which launches the JVM in
        this fresh process, register the workload's tables, run one action."""
        t0 = time.perf_counter()
        self.spark = self.start_session()
        t1 = time.perf_counter()
        self.workload.register(self.spark)
        t2 = time.perf_counter()
        self.spark.range(1).count()
        t3 = time.perf_counter()
        self.setup = {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                      "catalog.register_s": t2 - t1}
        if self.trace:
            self.py4j = probes.Py4jCounter(self.spark.sparkContext)
            self.translate = probes.TranslateProbe()

    # -- one operation ------------------------------------------------

    def run_op(self, op, traced: bool = False, parent: int | None = None,
               count_py4j: bool = False) -> Sample:
        """Run one operation. The timer covers build and action only; the
        probes, cache hygiene and the output check run after it stops."""
        self.attempted += 1
        self._op_seq += 1
        sc = self.spark.sparkContext
        group = f"perfbench-{os.getpid()}-{self._op_seq}"
        count_py4j = count_py4j or traced
        before = self.translate.snapshot() if traced else None
        wall0 = time.time()
        try:
            if traced:
                sc.setJobGroup(group + "-build", op.name)
            if count_py4j:
                self.py4j.calls, self.py4j.active = 0, True
            t0 = time.perf_counter()
            built = op.build()
            t1 = time.perf_counter()
            if count_py4j:
                self.py4j.active = False
            if traced:
                sc.setJobGroup(group + "-action", op.name)
            result = op.act(built)
            t2 = time.perf_counter()
        except Exception as exc:  # an operation failure is a result, not a crash
            self.fail(op.name, f"{type(exc).__name__}: {str(exc)[:300]}")
            sample = Sample(op.name, op.kind, 0.0, 0.0, False)
        else:
            sample = Sample(op.name, op.kind, t2 - t0, t1 - t0, True,
                            self.py4j.calls if count_py4j else 0)
            if traced:
                sample.layers = self._collect_layers(
                    op, built, result, group, before, (t0, t1, t2), wall0, parent)
        finally:
            if self.py4j is not None:
                self.py4j.active = False
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.catalog.clearCache()
        if sample.ok:
            try:
                err = op.check(built, result)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"
            if err is not None:
                sample.ok = False
                self.fail(op.name, err)
        return sample

    def fail(self, name: str, reason: str) -> None:
        """Record a failed or wrong-result operation."""
        self.failures.append((name, reason))
        print(f"FAIL {name}: {reason}", file=sys.stderr, flush=True)

    def _collect_layers(self, op, built, result, group, before, times, wall0, parent) -> dict:
        t0, t1, t2 = times
        sc = self.spark.sparkContext
        probes.wait_listeners(sc)
        build_jobs = probes.job_stats(sc, group + "-build")
        action_jobs = probes.job_stats(sc, group + "-action")
        after = self.translate.snapshot()
        layers = {k: after[k] - before[k] for k in after}
        layers.update({
            "queries.build_s": t1 - t0,
            "queries.py4j_calls": self.py4j.calls,
            "queries.build_jobs": len(build_jobs),
            "spark.exec_s": probes.busy_seconds(action_jobs),
            "spark.jobs": len(action_jobs),
            "spark.stages": sum(j["stages"] for j in action_jobs),
            "spark.tasks": sum(j["tasks"] for j in action_jobs),
            "spark.cached_bytes": probes.cached_bytes(sc),
        })
        if hasattr(built, "_jdf"):  # the action ran this DataFrame's plan
            layers.update(probes.phases(built))
            layers.update(probes.plan_metrics(built))
        observe = getattr(self.workload, "observe", None)
        if observe is not None:
            observe(op, result, layers)
        layers["trace.unaccounted_share"] = (
            abs(t2 - t0 - layers["queries.build_s"] - layers["spark.exec_s"]) / (t2 - t0))
        # spans: operation -> build / action -> Spark jobs, one id per operation
        op_id = self._op_seq
        wall1, wall2 = wall0 + (t1 - t0), wall0 + (t2 - t0)
        sid = self.tracer.add(op.name, wall0, wall2, parent, op_id, kind=op.kind,
                              layers=layers)
        for phase, lo, hi, jobs in (("build", wall0, wall1, build_jobs),
                                    ("action", wall1, wall2, action_jobs)):
            pid = self.tracer.add(phase, lo, hi, sid, op_id)
            for j in jobs:
                self.tracer.add(f"job {j['job']}", j["start"], j["end"], pid, op_id,
                                stages=j["stages"], tasks=j["tasks"])
        return layers

    # -- passes -------------------------------------------------------

    def run_pass(self, traced: bool, label: str, root: int | None) -> tuple[float, list[Sample]]:
        parent = self.tracer.add(label, time.time(), None, root) if traced else None
        t0 = time.perf_counter()
        samples = [self.run_op(op, traced, parent) for op in self.workload.one_pass()]
        op_time = sum(s.latency for s in samples)
        if traced:
            self.tracer.spans[parent]["end"] = time.time()
            self.tracer.spans[parent]["wall_s"] = time.perf_counter() - t0
        return op_time, samples

    def measure(self) -> dict:
        """Warm pass, then the measured window. Returns raw measurements:
        per pass (operation seconds, wall seconds, samples)."""
        t0 = time.perf_counter()
        cold = [self.run_op(op, count_py4j=self.trace) for op in self.workload.one_pass()]
        for _ in range(1, self.warm_passes):
            for op in self.workload.one_pass():
                self.run_op(op)
        warm_s = time.perf_counter() - t0

        root = self.tracer.add(self.name, time.time(), None) if self.trace else None
        untraced, traced = [], []
        elapsed = 0.0
        while True:
            tracing = bool(self.trace and len(untraced) >= self.min_passes
                           and elapsed >= self.seconds / 2)
            t = time.perf_counter()
            label = f"pass {len(untraced) + len(traced)}"
            op_time, samples = self.run_pass(tracing, label, root)
            (traced if tracing else untraced).append((op_time, time.perf_counter() - t, samples))
            elapsed += op_time
            if (elapsed >= self.seconds and len(untraced) >= self.min_passes
                    and (traced or not self.trace)):
                break
        if root is not None:
            self.tracer.spans[root]["end"] = time.time()
        return {"warm_s": warm_s, "cold_py4j": sum(s.py4j for s in cold),
                "untraced": untraced, "traced": traced}

    # -- environment readings -----------------------------------------

    def floor_and_control(self) -> dict:
        """Action floor (``spark.range(1).count()``) and a fixed pure-PySpark
        control query that runs no engine code; medians of a few runs."""
        from pyspark.sql import functions as F

        floor, control = [], []
        for _ in range(FLOOR_REPS):
            t = time.perf_counter()
            self.spark.range(1).count()
            floor.append(time.perf_counter() - t)
        for _ in range(CONTROL_REPS):
            t = time.perf_counter()
            (self.spark.range(0, 2_000_000, numPartitions=4)
             .groupBy((F.col("id") % 1000).alias("k"))
             .agg(F.sum("id").alias("s")).collect())
            control.append(time.perf_counter() - t)
        return {"spark.action_floor_s": statistics.median(floor),
                "spark.host_control_s": statistics.median(control)}

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()
        if self.translate is not None:
            self.translate.close()
