"""streamvbyte-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload codec_longdocs --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with ``--trace 1`` they are the per-layer metrics, from a run
that traces every other operation and then measures the packing, staging
and index layers once (``pack_index.py``); spans are written to
``.perfbench_out/``.  Inputs are generated from ``--seed`` by
``perfbench/gen.py``; the engine receives only those inputs, through its
public functions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

import tracing as tr
import workloads as wl

def machine() -> tuple[int, int]:
    """(cores this process may use, driver memory MiB).  The core count is
    what `env -u OMP_NUM_THREADS nproc` prints; the driver JVM gets a
    quarter of RAM, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal")).split()[1])
    return len(os.sched_getaffinity(0)), min(4096, total_kb // 4096)


def start_session(root: str, work: str):
    """A local SparkSession sized to the host, with every path inside
    ``work``; returns (spark, seconds it took)."""
    cores, mem_mb = machine()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # the Python workers import the package from the checkout,
        # wherever the run starts
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.enabled=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
            "pyspark-shell"]),
    })
    t0 = time.perf_counter()
    from streamvbyte_spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then wait for its JVM and the Python workers below it
    to exit (they exit when the JVM closes their pipes)."""
    from pyspark import SparkContext
    proc = spark.sparkContext._gateway.proc
    children = tr.descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while (any(tr.alive(p) for p in children)
           and time.monotonic() < deadline):
        time.sleep(0.05)
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def layer_metrics(w, tracer: tr.Tracer, spark, session_s: float
                  ) -> dict[str, float]:
    m = {"session.start_s": session_s}
    m.update(w.layers(tracer))
    m["staging.jvm_cached_mb"] = jvm_cached_mb(spark)
    m["process.driver_rss_mb"], m["process.peak_worker_rss_mb"] = \
        tr.process_rss_mb()
    m["trace.overhead_frac"] = w.overhead()
    return m


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, configure=None) -> dict:
    """One benchmark run; returns the result object.  ``configure`` is
    called with the workload before set-up (tests use it)."""
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "streamvbyte_spark")):
        raise SystemExit("perfbench: run from the repository root "
                         "(streamvbyte_spark/ not found)")
    if root not in sys.path:
        sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, session_s = start_session(root, work)
        ctx = wl.Ctx(spark, work, seed, scale)
        w = wl.WORKLOADS[workload](ctx)
        if configure is not None:
            configure(w)
        w.setup()
        t_warm = time.perf_counter()
        w.warm()
        t_measure = time.perf_counter()
        setup_s = t_measure - t0
        tracer = tr.Tracer(spark) if trace else None
        w.measure(seconds, tracer)
        print(f"[perfbench] {workload}: session {session_s:.1f} s, inputs "
              f"{t_warm - t0 - session_s:.1f} s, warm-up "
              f"{t_measure - t_warm:.1f} s, measured "
              f"{time.perf_counter() - t_measure:.1f} s, walls "
              + ", ".join(f"{k}{'/traced' if t else ''} "
                          f"{[round(x, 3) for x in v]}"
                          for (k, t), v in w.walls.items()),
              file=sys.stderr)
        if trace:
            metrics = layer_metrics(w, tracer, spark, session_s)
            units = dict(wl.LAYER_METRICS)
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans_{workload}_{seed}.json"))
        else:
            metrics = {"setup_s": setup_s, **w.end_to_end(),
                       "success_rate": 1 - ctx.failed / ctx.attempted}
            units = E2E_UNITS
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


E2E_UNITS = {"setup_s": "s", "write_tok_per_s": "1/s",
             "read_tok_per_s": "1/s", "bytes_per_token": "B",
             "success_rate": "ratio"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use small values)")
    a = ap.parse_args(argv)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
