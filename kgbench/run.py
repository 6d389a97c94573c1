"""KG-construction benchmark: one workload per process.

    python3 kgbench/run.py --workload kg_hot --seed 1 --seconds 10 --trace 0

Workloads: ``kg_hot`` (the ``kg`` job) and ``csv_import`` (the
``import-csv`` job). Run from the repository root. The process builds
one Spark session (``local[nproc]``), writes the workload's seeded
inputs under ``.kgbench_work/``, derives the expected output with
DuckDB, runs the job once to warm up, then runs it repeatedly for
``--seconds`` (at least twice; ``run_s`` is the median) and checks
every run's committed output. It prints each end-to-end metric by name
with its unit, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` the untraced runs are followed by traced runs that
call each layer's public function in its own Spark job group; the
metrics are then the per-layer metrics of BENCHMARK.json, and the spans
are written to ``.kgbench_work/reports/``. A layer the workload does
not call reports 0.

Metric names, units and the workload list come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

DRIVER_MEMORY = "2g"
MIN_RUNS = 2  # timed runs per process, even when one outlasts --seconds


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


def start_session(work: Path, nproc: int):
    """The program's own session factory, with scratch space, JVM temp
    files and worker imports kept inside the checkout."""
    from batch_import_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = build_session(
        app_name="kgbench",
        master=f"local[{nproc}]",
        shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def drop_blocks(spark) -> None:
    """Unpersist every RDD left cached by the previous run, so runs
    start from the same state."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


class Runner:
    def __init__(self, wl, spark, work: Path):
        self.wl, self.spark, self.work = wl, spark, work
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.outputs = []
        self._n = 0

    def once(self) -> float | None:
        """One timed run plus its check; returns the wall time, or None
        if the run raised or failed its check."""
        out = str(self.work / "out" / f"run{self._n}")
        self._n += 1
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            state = self.wl.run(self.spark, out)
            elapsed = time.perf_counter() - t0
            result = self.wl.check(out, state)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
            drop_blocks(self.spark)
        if result.problems:
            self.failed += 1
            self.problems += result.problems
            return None
        self.outputs.append(result)
        return elapsed

    def timed(self, seconds: float) -> list[float]:
        times = []
        deadline = time.perf_counter() + seconds
        while len(times) < MIN_RUNS or time.perf_counter() < deadline:
            t = self.once()
            if t is not None:
                times.append(t)
            elif self.attempted >= 2 * MIN_RUNS and not times:
                break  # every run fails: stop early and report it
        return times

    def traced(self, seconds: float, run_s: float) -> tuple[dict, list]:
        """Traced runs for ``seconds`` (at least one); returns the
        per-layer metrics (median over traced runs) and the last
        tracer's spans."""
        from kgbench.trace import Tracer

        per_run, tracers = [], []
        deadline = time.perf_counter() + seconds
        while not per_run or time.perf_counter() < deadline:
            out = str(self.work / "out" / f"traced{len(per_run)}")
            tr = Tracer(self.spark, prefix=f"t{len(per_run)}")
            self.attempted += 1
            try:
                with tr.span("traced_run"):
                    counts = self.wl.traced(self.spark, tr, out)
                tr.harvest()
                metrics = self.wl.layer_metrics(tr, counts)
            except Exception:
                self.failed += 1
                self.problems.append(traceback.format_exc(limit=3))
                break
            finally:
                shutil.rmtree(out, ignore_errors=True)
                drop_blocks(self.spark)
            if counts.get("problems"):
                self.failed += 1
                self.problems += counts["problems"]
            # the traced job, side layers excluded, against the untraced median
            job = [s for s in tr.spans if s.name in self.wl.layers]
            metrics["trace.overhead_s"] = max(s.end for s in job) - min(s.start for s in job) - run_s
            per_run.append(metrics)
            tracers.append(tr)
        if not per_run:
            return {}, []
        merged = {k: statistics.median(m[k] for m in per_run if k in m) for k in per_run[-1]}
        return merged, tracers


def environment(args, nproc: int, spark, sizes: dict) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "python": platform.python_version(),
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "inputs": sizes,
    }


def main(argv: list[str] | None = None) -> int:
    spec_path = ROOT / "BENCHMARK.json"
    spec = json.loads(spec_path.read_text()) if spec_path.exists() else None
    names = [w["name"] for w in spec["workloads"]] if spec else []
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=names or None)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import batch_import_spark
    except ImportError:
        batch_import_spark = None
    if batch_import_spark is None or ROOT not in Path(batch_import_spark.__file__).resolve().parents:
        print(f"kgbench: batch_import_spark is not in {ROOT}", file=sys.stderr)
        return 2
    if spec is None:
        print(f"kgbench: {spec_path} is missing", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".kgbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    reports = ROOT / ".kgbench_work" / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    load_before = os.getloadavg()
    from kgbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, nproc)
        session_s = time.perf_counter() - t0
        sizes = wl.setup(spark, str(work), args.seed)
        inputs_s = time.perf_counter() - t0 - session_s
        runner = Runner(wl, spark, work)
        # one untimed but checked cold run: it compiles and loads classes
        warm = runner.once()
        setup_s = time.perf_counter() - t0
        times = runner.timed(args.seconds) if warm is not None else []
        layer, tracers = {}, []
        if args.trace and times:
            wl.prepare_trace(str(work), args.seed)
            layer, tracers = runner.traced(args.seconds, statistics.median(times))
        env = environment(args, nproc, spark, sizes)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_before"] = load_before
    env["loadavg_after"] = os.getloadavg()
    env["timed_runs"] = len(times)
    env["setup_phases_s"] = {"session": session_s, "inputs": inputs_s,
                             "warmup": setup_s - session_s - inputs_s}
    env["peak_rss_mb"] = rss
    peak_rss = sum(rss.values())

    if not times:
        print(f"kgbench: no run of {args.workload} succeeded", file=sys.stderr)
        for pr in runner.problems[:5]:
            print(pr, file=sys.stderr)
        return 1

    run_s = statistics.median(times)
    q = statistics.quantiles(times, n=4) if len(times) > 1 else [run_s] * 3
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "records_per_s": runner.outputs[-1].records / run_s,
        "output_mb": statistics.median(o.output_bytes for o in runner.outputs) / 1e6,
    }
    layer["session.start_s"] = session_s
    layer["process.peak_rss_mb"] = peak_rss
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    print("env " + json.dumps(env, sort_keys=True))
    print(f"run_s samples: n={len(times)} p25={q[0]:.4f} median={run_s:.4f} p75={q[2]:.4f} max={max(times):.4f}")
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {units[k]}")
    # the reference's and BASELINE.json's own throughputs
    for k, v in runner.outputs[-1].per_run.items():
        print(f"{k}_per_s = {v / run_s:.6g} {k}/s")
    print(f"peak_rss_mb = {peak_rss:.6g} MB (driver + JVM VmHWM; no bound: it varies with GC timing)")
    print(f"fail_ratio = {runner.failed / runner.attempted:.6g} ({runner.failed}/{runner.attempted} runs)")
    for pr in runner.problems[:5]:
        print(f"problem: {pr}")
    if args.trace and tracers:
        root = tracers[-1].find("traced_run")
        spans = [s for s in tracers[-1].spans if s.parent == root.group]
        top = max((s for s in spans if s.name in wl.layers), key=lambda s: s.wall_s)
        job_s = layer["trace.overhead_s"] + run_s
        print(f"dominant layer: {top.name} ({top.wall_s:.3f} s of the {job_s:.3f} s traced job)")
        for s in spans:
            print(f"  {s.name:<28} wall {s.wall_s:8.3f} s  self {s.self_s:8.3f} s  "
                  f"jobs {s.jobs:4d}  stages {s.stages:4d}  cpu {s.task_cpu_s:8.3f} s")
        tracers[-1].write_json(
            str(reports / f"{args.workload}-seed{args.seed}-spans.json"),
            {"env": env, "layer_metrics": layer, "dominant_layer": top.name},
        )
    with open(reports / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump({"env": env, "end_to_end": e2e, "run_s_samples": times,
                   "problems": runner.problems}, f, indent=1)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
