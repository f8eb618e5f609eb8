"""Benchmark one workload in a fresh process.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 17 --trace 0

A run is a closed loop with one client: set-up (session start), one cold
pass over the workload's rows in their listed order, then as many warm
passes as fill ``--seconds`` at the workload's nominal pass length (at least
two). The seed fixes the order of rows within each warm pass: a seeded
order, then its reverse, then a new seeded order, and so on. Every
execution's output is fingerprinted and checked against
``expected.json``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics,
taken from traced warm passes interleaved with untraced ones. A full
record of the run, spans included, is written under ``perfbench/out/``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Tracer  # noqa: E402

MIN_WARM = 2
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "success_rate": "ratio"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expected", default=str(wl.EXPECTED),
                   help="expected fingerprints (default: %(default)s)")
    return p.parse_args(argv)


def prepare_work_dir() -> Path:
    """Keep every file Spark, the JVM and Python write inside the tree."""
    work = HERE / "out" / "work"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "written"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = None
    # Python workers import the package from the tree under test
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(wl.ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return work


def work_dir_conf(work: Path) -> dict[str, str]:
    """Session conf that keeps the JVM's own files inside ``work``;
    without -UsePerfData the JVM writes its perf-data file to /tmp."""
    opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    return {"spark.driver.extraJavaOptions": opts,
            "spark.sql.warehouse.dir": str(work / "warehouse")}


class Runner:
    def __init__(self, spark, tracer, rows, expected, fingerprint, written_dir):
        self.spark, self.tracer = spark, tracer
        self.rows, self.expected, self.fingerprint = rows, expected, fingerprint
        self.written_dir = written_dir
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def execute(self, name: str, fn) -> dict:
        """One timed execution: build the plan, force it to a result
        (write + read back for load-shaped rows), then check it."""
        from lfb_data_warehouse_spark.sources import io as sio

        tr, rec = self.tracer, {}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("row", name):
                with tr.span("plans", name):
                    df = fn(self.spark, str(wl.DATA_DIR))
                with tr.span("exec", name):
                    if name in wl.WRITTEN:
                        path = str(self.written_dir / name)
                        sio.write_parquet(df, path)
                        pdf = self.spark.read.parquet(path).toPandas()
                    else:
                        pdf = df.toPandas()
            rec["s"] = time.perf_counter() - t0
            ok = self.fingerprint(pdf) == self.expected.get(name)
            if not ok:
                self.errors.append(f"{name}: fingerprint mismatch")
        except Exception as e:  # a failed execution is counted, not fatal
            rec["s"] = time.perf_counter() - t0
            ok = False
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        if not ok:
            self.failed += 1
        rec["ok"] = ok
        if name in wl.WRITTEN and tr.enabled:
            rec["write_mb"] = dir_mb(self.written_dir / name)
        return rec

    def run_pass(self, pass_id, order, traced, sampler, jvm_pid) -> dict:
        tr = self.tracer
        tr.enabled, tr.pass_id = traced, pass_id
        first_span = len(tr.spans)
        sampler.reset_window()
        cpu0 = procstat.tree_cpu_s(jvm_pid)
        jvm_cpu0, driver_cpu0 = procstat.cpu_s(jvm_pid), time.process_time()
        wall0 = time.time()
        rows = {n: self.execute(n, self.rows[n]) for n in order}
        tr.enabled = False
        # the pass time sums the executions; the output checks between
        # them are the benchmark's own work and stay out of it
        secs = sum(r["s"] for r in rows.values())
        rec = {"pass": pass_id, "s": secs, "wall_s": time.time() - wall0,
               "traced": traced, "order": order,
               "rows": rows, "pyworker_cpu_s": procstat.tree_cpu_s(jvm_pid) - cpu0,
               # for diagnosis: how a slow pass splits between the processes
               "jvm_cpu_s": procstat.cpu_s(jvm_pid) - jvm_cpu0,
               "driver_cpu_s": time.process_time() - driver_cpu0,
               "rss_peak_mb": sampler.reset_window()}
        if traced:
            rec["layers"] = layer_metrics(self.spark, tr, tr.spans[first_span:],
                                          wall0, rec)
        return rec


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def layer_metrics(spark, tracer, spans, since, rec) -> dict:
    """Per-layer values of one traced pass (see README.md)."""
    tracer.collect(spark, spans)

    def of(layer, name=None):
        return [s for s in spans if s.layer == layer and (name is None or s.name == name)]

    plans, loads = of("plans"), of("sources", "load_table")
    writes, ops, execs = of("sources", "write_parquet"), of("operators"), of("exec")
    sql_times = tracer.sql_execution_times(spark, since)
    m = {
        "plans.build_s": sum(s.dur for s in plans),
        "plans.build_jobs": sum(len(s.all_jobs()) for s in plans),
        "plans.sql_execs": sum(any(s.start <= t <= s.end for s in plans) for t in sql_times),
        "sources.load_calls": len(loads),
        "sources.load_jobs": sum(len(s.jobs) for s in loads),
        "sources.load_s": sum(s.dur for s in loads),
        "sources.write_s": sum(s.dur for s in writes),
        "sources.write_mb": sum(r.get("write_mb", 0.0) for r in rec["rows"].values()),
        "operators.self_s": sum(s.self_s for s in ops),
        "operators.jobs": sum(len(s.jobs) for s in ops),
    }
    for fn in wl.OPERATOR_DETAIL:
        m[f"operators.{fn}.self_s"] = sum(s.self_s for s in ops if s.name == fn)
        m[f"operators.{fn}.jobs"] = sum(len(s.jobs) for s in ops if s.name == fn)
    exec_s = sum(s.dur for s in execs)
    exec_jobs = [j for s in execs for j in s.all_jobs()]
    stage = tracer.stage_metrics(spark, exec_jobs)
    cores = spark.sparkContext.defaultParallelism
    m.update({"exec.s": exec_s, "exec.jobs": len(exec_jobs)})
    m.update({f"exec.{k}": v for k, v in stage.items()})
    m["exec.core_util"] = stage["task_s"] / (exec_s * cores) if exec_s else 0.0
    m["pyworker.cpu_s"] = rec["pyworker_cpu_s"]
    m["pyworker.rss_mb"] = rec["rss_peak_mb"]["workers"]
    m["jvm.rss_mb"] = rec["rss_peak_mb"]["jvm"]
    m["driver.rss_mb"] = rec["rss_peak_mb"]["driver"]
    m["jobs.total"] = sum(len(s.all_jobs()) for s in of("row"))
    return m


def shutdown(spark, sampler) -> list[int]:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    sampler.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = procstat.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    left = procstat.wait_gone(workers, timeout=30)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    return procstat.wait_gone(left, timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = wl.missing_files()
    if missing:
        print(f"perfbench: tree under test is incomplete: {missing}", file=sys.stderr)
        return 2
    started = procstat.process_start_epoch()
    host0 = procstat.host_state()
    work = prepare_work_dir()
    sys.path.insert(0, str(wl.ROOT))

    tracer = Tracer()
    if args.trace:
        tracer.install()  # before plans is imported, so the plans bind wrappers
    from lfb_data_warehouse_spark import session

    tracer.enabled, tracer.pass_id = bool(args.trace), "setup"
    spark = session.get_spark("perfbench", extra_conf=work_dir_conf(work))
    tracer.enabled = False
    tracer.sc = spark.sparkContext
    names = wl.WORKLOADS[args.workload]
    rows = wl.row_functions(names)
    fingerprint = wl.fingerprinter()
    with open(args.expected) as f:
        expected = {k: v["fingerprint"] for k, v in json.load(f)["rows"].items()}
    setup_s = time.time() - started

    jvm_pid = gateway_pid()
    sampler = procstat.RssSampler(jvm_pid)
    if args.trace:  # memory is a per-layer metric; keep its probe out of timed runs
        sampler.start()
    runner = Runner(spark, tracer, rows, expected, fingerprint, work / "written")
    rng = random.Random(args.seed)

    # the cold pass runs the rows in their listed order, as a nightly job
    # would; which row pays the JVM's first-use costs moves its time. It is
    # untraced, so a traced run reports the same cold pass as an untraced one
    passes = [runner.run_pass("cold", list(names), False, sampler, jvm_pid)]
    # what a nightly job in a fresh process holds: set-up plus one pass
    peak_rss = sampler.peak_total_mb()
    n_warm = max(MIN_WARM, round(args.seconds / wl.NOMINAL_PASS_S[args.workload]))
    for warm in range(n_warm):
        # traced and untraced passes sit at the same mean position on the
        # warm-up curve: T U T U T for five passes, U T T U for four
        traced = bool(args.trace) and (
            warm % 2 == 0 if n_warm % 2 else warm % 4 in (1, 2))
        # a row's time depends on the rows run before it (by up to 10%), so
        # a seeded order is followed by its reverse: each row's position
        # evens out over the pair instead of moving with the seed
        order = rng.sample(names, len(names)) if warm % 2 == 0 else order[::-1]
        passes.append(runner.run_pass(warm, order, traced, sampler, jvm_pid))
    left = shutdown(spark, sampler)
    host1 = procstat.host_state()

    untraced = [p for p in passes[1:] if not p["traced"]]
    traced = [p for p in passes[1:] if p["traced"]]
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_time(untraced),
        "success_rate": (runner.attempted - runner.failed) / runner.attempted,
    }
    if args.trace:
        layers = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
        session_span = next(s for s in tracer.spans if s.layer == "session")
        layers["session.start_s"] = session_span.dur
        layers["session.cold_pass_s"] = passes[0]["s"]
        layers["process.peak_rss_mb"] = peak_rss
        layers["trace.overhead_s"] = pass_time(traced) - pass_time(untraced)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    steal = host1["steal_ticks"] - host0["steal_ticks"]
    total = host1["total_ticks"] - host0["total_ticks"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rows": list(names), "end_to_end": e2e,
        "metrics": metrics, "peak_rss_mb": peak_rss, "passes": passes, "errors": runner.errors,
        "host": {"cpus": len(os.sched_getaffinity(0)),
                 "loadavg_1m_start": host0["loadavg_1m"],
                 "loadavg_1m_end": host1["loadavg_1m"],
                 "steal_share": steal / total if total else 0.0},
        "processes_left": left,
    }
    runs = HERE / "out" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(runs / f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(runs / f"{stem}-spans.json", "w") as f:
            json.dump([s.record() for s in tracer.spans], f)
    shutil.rmtree(work, ignore_errors=True)

    for err in runner.errors:
        print(f"perfbench: failed execution: {err}", file=sys.stderr)
    if left:
        print(f"perfbench: processes still alive after shutdown: {left}", file=sys.stderr)
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def pass_time(passes: list[dict]) -> float:
    """A warm pass's time: each row's median over the passes, summed, so a
    host stall in one row of one pass moves only that row's sample."""
    rows = passes[0]["rows"]
    return sum(median(p["rows"][n]["s"] for p in passes) for n in rows)


def gateway_pid() -> int:
    """PID of the JVM that PySpark launched for this process."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s") or suffix == "s":
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix == "core_util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
