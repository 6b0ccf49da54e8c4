"""Layer probes: measurements taken from outside the engine, by timing and
counting calls into each module's public surface. Nothing here changes
engine code; the probes wrap functions and read Spark's own status and
plan objects over py4j.

- ``Py4jCounter``: py4j commands sent while a DataFrame is built.
- ``TranslateProbe``: time and calls in the YQL and CHYT text translators.
- ``job_stats`` / ``phases`` / ``plan_metrics``: Spark jobs per job group,
  Catalyst phase times, and SQL metrics summed over the final AQE plan.
- ``peak_rss_mb``: peak resident memory of this process plus the JVM.
"""

from __future__ import annotations

import sys
import threading
import time

# SQL metric name -> operators.* metric it adds to, with the unit scale.
_METRIC_MAP = {
    "pipelineTime": ("operators.pipeline_s", 1e-3),
    "shuffleBytesWritten": ("operators.shuffle_write_bytes", 1),
    "shuffleWriteTime": ("operators.shuffle_write_s", 1e-9),
    "shuffleRecordsWritten": ("operators.shuffle_records", 1),
    "spillSize": ("operators.spill_bytes", 1),
    "peakMemory": ("operators.peak_memory_bytes", 1),
    "pythonNumRowsReceived": ("operators.python_rows", 1),
    "pythonDataSent": ("operators.python_bytes", 1),
    "pythonDataReceived": ("operators.python_bytes", 1),
}
# Metrics read only from scan nodes.
_SCAN_MAP = {
    "numOutputRows": ("operators.scan_rows", 1),
    "filesSize": ("operators.scan_bytes", 1),
    "scanTime": ("operators.scan_s", 1e-3),
    "numFiles": ("operators.scan_files", 1),
}
OPERATOR_METRICS = sorted({m for m, _ in _METRIC_MAP.values()}
                          | {m for m, _ in _SCAN_MAP.values()})


class Py4jCounter:
    """Counts py4j commands while ``active``. Memory commands (``m``: the
    Python side releasing JVM references) are excluded, because their
    number depends on when the garbage collector runs and so does not
    repeat between identical calls."""

    def __init__(self, sc) -> None:
        self._client = sc._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self.active = False

        def counting(command, *args, **kwargs):
            if self.active and not command.startswith("m"):
                with self._lock:
                    self.calls += 1
            return self._send(command, *args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        del self._client.send_command


class TranslateProbe:
    """Wraps the dialect translators (``yql.dialect.translate_yql`` and
    ``translate_yql_script``, ``chyt.translate_chyt``) wherever a loaded
    engine module holds a reference to them. Nested calls within one
    family count once (``translate_yql`` calls ``translate_yql_script``)."""

    _TARGETS = (
        ("yql", "ytsaurus_spark.yql.dialect", "translate_yql"),
        ("yql", "ytsaurus_spark.yql.dialect", "translate_yql_script"),
        ("chyt", "ytsaurus_spark.chyt", "translate_chyt"),
    )

    def __init__(self) -> None:
        import importlib

        self.calls = {"yql": 0, "chyt": 0}
        self.seconds = {"yql": 0.0, "chyt": 0.0}
        self._depth = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        for family, mod_name, attr in self._TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(family, orig)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if name.startswith("ytsaurus_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)
                    self._patched.append((mod, attr, orig))

    def _wrap(self, family: str, fn):
        def wrapped(*args, **kwargs):
            depth = getattr(self._depth, family, 0)
            setattr(self._depth, family, depth + 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self._depth, family, depth)
                if depth == 0:
                    self.calls[family] += 1
                    self.seconds[family] += time.perf_counter() - t0

        return wrapped

    def snapshot(self) -> dict[str, float]:
        return {
            "yql.translate_calls": self.calls["yql"],
            "yql.translate_s": self.seconds["yql"],
            "chyt.translate_calls": self.calls["chyt"],
            "chyt.translate_s": self.seconds["chyt"],
        }

    def close(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def wait_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store reflects jobs that just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_stats(sc, group: str) -> list[dict]:
    """Jobs started under ``group``: id, wall interval (epoch seconds),
    completed stages and tasks, from the application status store."""
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        out.append({
            "job": jid,
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": done.get().getTime() / 1e3 if done.isDefined() else None,
            "stages": jd.numCompletedStages(),
            "tasks": jd.numCompletedTasks(),
        })
    return out


def busy_seconds(jobs: list[dict]) -> float:
    """Wall time during which at least one of ``jobs`` was running (AQE
    runs query stages as concurrent jobs, so durations must not be summed)."""
    spans = sorted((j["start"], j["end"]) for j in jobs
                   if j["start"] is not None and j["end"] is not None)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phases(df) -> dict[str, float]:
    """Catalyst phase durations (seconds) of ``df``'s query execution."""
    summary = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = summary.get(phase)
        out[f"spark.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def plan_metrics(df) -> dict[str, float]:
    """SQL metrics summed over the executed physical plan of ``df``: the
    final AQE plan, its query stages and subqueries. Reused exchanges are
    skipped so their work is counted once."""
    totals = dict.fromkeys(OPERATOR_METRICS, 0.0)
    stack = [df._jdf.queryExecution().executedPlan()]
    seen = set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        ident = node.id()
        if ident in seen:
            continue
        seen.add(ident)
        table = dict(_METRIC_MAP)
        if "Scan" in cls:
            table.update(_SCAN_MAP)
        for kv in _scala_iter(node.metrics()):
            hit = table.get(kv._1())
            if hit is not None:
                totals[hit[0]] += kv._2().value() * hit[1]
        stack.extend(_scala_iter(node.children()))
        stack.extend(_scala_iter(node.subqueries()))
    return totals


def cached_bytes(sc) -> int:
    """Bytes held by persisted RDDs and cached DataFrames (memory + disk)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM, in MiB."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0
