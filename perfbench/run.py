"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Runs one workload (see ``perfbench/workloads.py``) on inputs generated from
``--seed``, checks every answer, and prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run records spans and Spark job counts around every layer call and the
metrics are the per-layer ones.  Lines before the JSON give the host
context, the result digest and, in traced runs, any absent per-layer
metric with the reason.

The run reads and writes only under the checkout: generated inputs,
indexes, Spark scratch and temp files live in ``.bench_work/run-<pid>``,
deleted at exit.  Each run leaves its raw samples in
``.bench_work/samples``, and traced runs their spans in
``.bench_work/traces``.  ``perfbench/METRICS.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the run must finish well inside the caller's 180 s limit
DEADLINE_S = 170


def _nproc() -> int:
    return min(8, len(os.sched_getaffinity(0)))


def host_context(nproc: int) -> dict:
    """bench.py's host-probe legs, run with ``nproc`` processes: the
    single-thread leg (best of two) and the effective parallelism of
    ``nproc`` copies started together.  Recorded next to the metrics so a
    degraded shared host explains a bad run; never used to adjust one."""
    import bench

    bench._probe_work(0)  # first use in a process is slow; not host load
    st = min(bench._probe_work(0) for _ in range(2))
    start = time.time() + 0.3
    code = (
        "import sys, time; sys.path.insert(0, sys.argv[1]); import bench\n"
        "t0 = float(sys.argv[2]); bench._probe_work(0)\n"
        "while time.time() < t0: time.sleep(0.001)\n"
        "bench._probe_work(0); print(time.time())"
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code, ROOT, repr(start)], stdout=subprocess.PIPE, text=True)
        for _ in range(nproc)
    ]
    ends = [float(p.communicate()[0]) for p in procs]
    wall = max(ends) - start
    return {"nproc": nproc, "st": round(2 * st, 3), "par_eff": round(nproc * st / wall, 2)}


def _env(work: str) -> None:
    """Point every scratch location at ``work`` before Spark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_SHM"] = "0"
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}"


def _out_path(kind: str, name: str) -> str:
    """A file kept after the run: ``.bench_work/<kind>/<name>``."""
    d = os.path.join(ROOT, ".bench_work", kind)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def _rss_mb(pid: int) -> float:
    """Peak resident memory of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_peak_rss() -> None:
    """Restart this process's peak-RSS count at its current RSS, so the
    peak leaves out the host probe and input generation.  The heap those
    freed is first handed back to the system: how much of it the C
    allocator kept varied by about 40 MB from run to run."""
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    def _deadline(_sig, _frm):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.inputs import make_inputs

    if a.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    nproc = _nproc()
    spark = None
    try:
        host = host_context(nproc)

        # inputs are generated (and written as the parquet the builds
        # read) before the timed set-up
        inputs = make_inputs(a.seed)
        files = {"base": inputs.base}
        files.update({f"batch{i}": b.rows for i, b in enumerate(inputs.batches)})
        for key, pdf in files.items():
            files[key] = os.path.join(work, f"{key}.parquet")
            pdf.to_parquet(files[key], index=False, row_group_size=2_500)

        from emailindexer_spark import get_spark
        from perfbench.trace import Tracer

        tracer = Tracer(bool(a.trace))
        _reset_peak_rss()
        t0 = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = get_spark(
                app_name=f"perfbench-{a.workload}",
                master=f"local[{nproc}]",
                shuffle_partitions=2 * nproc,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        if a.trace:
            from emailindexer_spark.plans import planner

            tracer.wrap(planner, "parse", "parser.parse", "parser")

        client = workloads.Client(spark, inputs, files, tracer)
        eng = client.setup(work, workloads.WARM_BURSTS[a.workload])
        setup_s = time.perf_counter() - t0

        workloads.WORKLOADS[a.workload](client, eng, os.path.join(work, "ix"), a.seconds)

        rss = _rss_mb(os.getpid())
        client.layer["jvm_peak_rss_mb"] = _rss_mb(spark.sparkContext._gateway.proc.pid)
        if a.trace:
            metrics, absent = workloads.per_layer(client, session_s)
            tracer.dump(_out_path("traces", f"{a.workload}-seed{a.seed}.jsonl"))
        else:
            metrics, absent = workloads.end_to_end(client, setup_s, rss, os.path.getsize(files["base"])), {}
        with open(_out_path("samples", f"{a.workload}-seed{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(client.samples, f)
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    from perfbench.checks import digest

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    if sorted(listed) != sorted(metrics):
        raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(listed)}")
    print(f"host {json.dumps(host)}")
    print(f"digest {a.workload} seed={a.seed} {digest(client.answers)} ({len(client.answers)} queries)")
    for name, why in absent.items():
        print(f"absent {name}: {why}")
    if a.trace:
        print(
            f"trace overhead: {metrics['trace.bookkeeping_ms_per_op'][0]:.3f} ms per op inside the tracer; "
            f"traced search_p50_ms {metrics['trace.search_p50_ms'][0]:.3f}, to compare with an untraced run"
        )
    print(
        json.dumps(
            {
                "correct": client.failed == 0,
                "attempted": client.attempted,
                "failed": client.failed,
                "metrics": {
                    k: {"value": 0 if k in absent else v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
