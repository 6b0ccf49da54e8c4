"""Layered benchmark for the ytsaurus_spark engine.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5   # all three

Runs one workload (``interactive``, ``batch_heavy`` or ``ingest_lookup``,
see workloads.py) in a closed loop with one client on ``local[nproc]``,
checks every operation's output, and prints every metric by name and unit.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` reports its per-layer metrics and writes the
span tree to ``.bench_build/perfbench/traces/``.

The fixture and the oracle's expected rows are made once per checkout, in
a child process, and cached. Everything the run writes (fixture, expected
rows, Spark scratch space, Cypress roots, traces) stays under
``.bench_build/perfbench/`` in the checkout; per-run scratch is removed at
exit. The run makes itself the reaper of every process it starts, directly
or not (the JVM, its launcher's shells, the Python workers), and waits
until each has ended before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURES = os.path.join(WORK, "fixtures")
sys.path.insert(0, ROOT)  # run as a script: make the checkout importable

from perfbench import fixture, probes, workloads  # noqa: E402
from perfbench.harness import Runner  # noqa: E402

DRIVER_MEMORY = "3g"
REGISTRY_WORKLOADS = {"interactive": workloads.INTERACTIVE,
                      "batch_heavy": workloads.BATCH_HEAVY}

# Per-layer metrics summed over each traced pass (then averaged per pass).
_PER_PASS = (
    "queries.build_s", "queries.py4j_calls", "queries.build_jobs",
    "yql.translate_s", "yql.translate_calls", "chyt.translate_s",
    "chyt.translate_calls", "spark.analysis_s", "spark.optimization_s",
    "spark.planning_s", "spark.exec_s", "spark.jobs", "spark.stages",
    "spark.tasks",
)


def pin_environment(run_dir: str) -> int:
    """Fix the core count, driver memory, Python paths and scratch
    directories before Spark starts; returns the core count."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Python workers import engine code (UDF closures) from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return nproc


def session_factory(run_dir: str, nproc: int):
    """A callable that starts the engine's tuned session on ``local[nproc]``
    with every scratch path inside the run directory."""
    from ytsaurus_spark.session import get_spark

    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    return lambda: get_spark("perfbench", master=f"local[{nproc}]",
                             shuffle_partitions=nproc, extra_confs=confs)


def prepare_inputs(oracle_path: str, names: list[str]) -> None:
    """Child process: generate the fixture if it is not cached, cache the
    oracle's expected rows for ``names`` at ``oracle_path``, and print the
    fixture's generation seconds (null if it was cached) as JSON. Kept out
    of the measuring process so its memory peak is the engine's alone."""
    sf_dir, gen_s = fixture.ensure_fixture(FIXTURES, workloads.SF)
    expected = workloads.expected_rows(sf_dir, names)
    os.makedirs(os.path.dirname(oracle_path), exist_ok=True)
    staging = f"{oracle_path}.tmp{os.getpid()}"
    with open(staging, "wb") as f:
        pickle.dump(expected, f)
    os.replace(staging, oracle_path)
    print(json.dumps(gen_s))


def prepare(name: str) -> tuple[str | None, float | None, dict | None]:
    """(fixture dir, generation seconds or None if cached, expected rows)
    for a registry workload; all None for ``ingest_lookup``."""
    if name not in REGISTRY_WORKLOADS:
        return None, None, None
    names = REGISTRY_WORKLOADS[name]
    sf_dir = fixture.fixture_dir(FIXTURES, workloads.SF)
    oracle_path = os.path.join(WORK, "oracle", f"{name}-{workloads.oracle_key(names)}.pkl")
    gen_s = None
    if not (os.path.isdir(sf_dir) and os.path.exists(oracle_path)):
        code = ("import sys; from perfbench.run import prepare_inputs; "
                "prepare_inputs(sys.argv[1], sys.argv[2:])")
        out = subprocess.run([sys.executable, "-c", code, oracle_path, *names],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        gen_s = json.loads(out.stdout.strip().splitlines()[-1])
    with open(oracle_path, "rb") as f:
        return sf_dir, gen_s, pickle.load(f)


def make_workload(name: str, seed: int, run_dir: str, sf_dir: str | None,
                  expected: dict | None):
    """The workload object for ``name``."""
    rng = np.random.default_rng(seed)
    if name not in REGISTRY_WORKLOADS:
        return workloads.IngestWorkload(run_dir, rng)
    return workloads.RegistryWorkload(REGISTRY_WORKLOADS[name], sf_dir, rng,
                                      workloads.OracleChecker(expected))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    return float(np.quantile(xs, q))


def end_to_end(runner, m: dict, rss_mb: float) -> dict:
    ok = [s for _, _, samples in m["untraced"] for s in samples if s.ok]
    lat = [s.latency for s in ok] or [0.0]
    return {
        "setup_s": runner.setup["setup_s"],
        "pass_s": _median([p[0] for p in m["untraced"]]),
        "ops_per_s": len(ok) / sum(lat) if sum(lat) else 0.0,
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "peak_rss_mb": rss_mb,
    }


def per_layer(runner, workload, m: dict, env_readings: dict) -> dict:
    traced = [s for _, _, samples in m["traced"] for s in samples if s.ok]
    untraced = [s for _, _, samples in m["untraced"] for s in samples if s.ok]
    n_pass = max(1, len(m["traced"]))
    out = {
        "session.start_s": runner.setup["session.start_s"],
        "catalog.register_s": runner.setup["catalog.register_s"],
        "setup.warm_pass_s": m["warm_s"],
        "queries.py4j_calls_cold": m["cold_py4j"],
        "failed_ratio": len(runner.failures) / max(1, runner.attempted),
        **env_readings,
    }
    for key in (*_PER_PASS, *probes.OPERATOR_METRICS):
        out[key] = sum(s.layers.get(key, 0) for s in traced) / n_pass
    lat = sum(s.latency for s in traced)
    out["queries.build_share"] = sum(s.build for s in traced) / lat if lat else 0.0
    out["spark.cached_bytes"] = max((s.layers["spark.cached_bytes"] for s in traced), default=0)
    out["trace.unaccounted_share"] = _median(
        [s.layers["trace.unaccounted_share"] for s in traced])
    base = _median([p[1] for p in m["untraced"]])
    out["trace.overhead_ratio"] = _median([p[1] for p in m["traced"]]) / base - 1 if base else 0.0

    def lat_of(kind, q=0.5):
        xs = [s.latency for s in untraced if s.kind == kind]
        return quantile(xs, q) if xs else 0.0

    def layer_values(key):
        return [s.layers[key] for s in traced if key in s.layers]

    out.update({
        "insert_p50_s": lat_of("insert"),
        "lookup_p50_s": lat_of("lookup"),
        "lookup_p90_s": lat_of("lookup", 0.9),
        "select_p50_s": lat_of("select"),
        "compact_s": lat_of("compact"),
        "bytes_per_user_byte": getattr(workload, "space_amplification", 0.0),
        "sources.segments_live_peak": max(layer_values("sources.segments_live"), default=0),
    })
    for key in ("sources.segments_live", "sources.segments_after_compact",
                "sources.files_read_per_lookup", "sources.commit_bytes_written",
                "sources.commit_files_written", "sources.compact_bytes_written",
                "sources.compact_files_written"):
        vals = layer_values(key)
        out[key] = sum(vals) / len(vals) if vals else 0.0
    return out


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_descendants() -> None:
    """Make this process the parent of every orphan among its descendants,
    such as the shells the JVM's launcher leaves and the Python workers
    that outlive the JVM, so ``stop_children`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    """Pids whose parent is this process, exited ones not yet reaped too."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def stop_children(grace: float = 10.0) -> None:
    """Reap every child until none is left. Children still running after
    ``grace`` seconds get SIGTERM, and SIGKILL ``grace`` seconds later."""
    start = time.monotonic()
    signals = [(grace, signal.SIGTERM), (2 * grace, signal.SIGKILL)]
    while kids := _children():
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if signals and time.monotonic() - start > signals[0][0]:
            sig = signals.pop(0)[1]
            print(f"stopping {len(kids)} leftover processes with {sig.name}",
                  file=sys.stderr)
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def measure_workload(args, run_dir: str) -> tuple[dict, object]:
    """Set up, run and tear down one workload; returns (metric values, runner)."""
    nproc = pin_environment(run_dir)
    import pyspark

    sf_dir, gen_s, expected = prepare(args.workload)
    workload = make_workload(args.workload, args.seed, run_dir, sf_dir, expected)
    runner = Runner(args.workload, workload, session_factory(run_dir, nproc),
                    args.seconds, bool(args.trace), workloads.WARM_PASSES[args.workload],
                    workloads.MIN_PASSES[args.workload])
    try:
        for name in workload.missing:
            runner.attempted += 1
            runner.fail(name, "not in the query registry")
        t_start = time.perf_counter()
        runner.do_setup()
        t_setup = time.perf_counter()
        sc = runner.spark.sparkContext
        print(f"env: master={sc.master} defaultParallelism={sc.defaultParallelism} "
              f"nproc={nproc} pyspark={pyspark.__version__} "
              f"driver_memory={DRIVER_MEMORY}")
        if workload.registry_size is not None:
            print(f"registry: {workload.registry_size} queries")
        if sf_dir is not None:
            how = f"generated in {gen_s:.1f} s" if gen_s is not None else "cached"
            print(f"fixture: {os.path.relpath(sf_dir, ROOT)} ({how})")
        m = runner.measure()
        t_measured = time.perf_counter()
        jvm = getattr(getattr(sc._gateway, "proc", None), "pid", None)
        values = end_to_end(runner, m, probes.peak_rss_mb(jvm))
        if args.trace:
            values.update(per_layer(runner, workload, m, runner.floor_and_control()))
            path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            runner.tracer.write(path)
            print(f"trace: {os.path.relpath(path, ROOT)} ({len(runner.tracer.spans)} spans)")
        for i, (op_time, _, samples) in enumerate(m["untraced"] + m["traced"]):
            ops = " ".join(f"{s.name}={s.latency:.3f}" for s in samples)
            print(f"pass {i}: {op_time:.3f} s: {ops}")
        samples = sum(len(p[2]) for p in m["untraced"] + m["traced"])
        print(f"window: {len(m['untraced'])} untraced + {len(m['traced'])} traced "
              f"passes, {samples} operations; wall: set-ups {t_setup - t_start:.1f} s, "
              f"warm pass {m['warm_s']:.1f} s, window "
              f"{t_measured - t_setup - m['warm_s']:.1f} s")
    finally:
        runner.close()
        shutdown(runner.spark)
    return values, runner


def run_all(args) -> int:
    """Run every workload, each in its own process, and print a combined
    result keyed ``<workload>.<metric>``."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"== {name}", flush=True)
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True).stdout
        lines = out.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        result = json.loads(lines[-1])
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


WORKLOADS = ["interactive", "batch_heavy", "ingest_lookup"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    adopt_descendants()
    try:
        values, runner = measure_workload(args, run_dir)
    finally:
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"  {m['name']:34s} {values[m['name']]:14.6g} {m['unit']}")
    for name, reason in runner.failures:
        print(f"failed: {name}: {reason}")
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
