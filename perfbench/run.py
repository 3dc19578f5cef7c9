#!/usr/bin/env python3
"""Benchmark of hpctoolkit_dataframe_spark; one workload per process.

    python3 perfbench/run.py --workload xml_session --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run makes its inputs from ``--seed``
under a temporary directory inside ``perfbench/`` (removed at exit), starts
a ``local[<cpus>]`` session, runs the workload's script, checks its
outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# the driver JVM's heap; the package's own default is 8g
DRIVER_MEMORY = "4g"
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import Recorder  # noqa: E402


def _process_start() -> float:
    """Wall-clock start of this process, from /proc (falls back to the
    time this module was imported)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        start = btime + ticks / os.sysconf("SC_CLK_TCK")
        return start if start <= _T_IMPORT else _T_IMPORT
    except (OSError, ValueError, StopIteration):
        return _T_IMPORT


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except OSError:  # the process ended meanwhile
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(map(_alive, workers)) and time.time() < deadline:
        time.sleep(0.05)
    for pid in filter(_alive, workers):
        os.kill(pid, signal.SIGKILL)
    while any(map(_alive, workers)):
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hpctoolkit_dataframe_spark")):
        print(f"error: package hpctoolkit_dataframe_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cpus = _cpus()
    scratch = os.path.join(HERE, ".tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                             "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    load_before = os.getloadavg()[0]
    spark = None
    try:
        t_start = _process_start()
        from hpctoolkit_dataframe_spark import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(8, numPartitions=cpus).mapInPandas(
            lambda it: it, schema="id long").count()
        setup_s = time.time() - t_start

        rec = Recorder(spark, f"{args.workload}-{args.seed}-{os.getpid()}",
                       traced=bool(args.trace))
        run = workloads.Run(spark, rec, work, args.seed, args.seconds)
        out = workloads.WORKLOADS[args.workload](run)
        peak_rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        if args.trace:
            rec.collect()
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{rec.run_id}.json"), "w") as f:
                json.dump(rec.records(), f)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()[0]

    failures = [(o["name"], o["failure"]) for o in run.ops if o["failure"]]
    e2e = {"setup_s": setup_s, **out["end_to_end"]}
    units = {"setup_s": "s", "wall_s": "s", "cold_s": "s", "warm_s": "s",
             "load_hot_path_s": "s", "rows_per_s": "1/s", "op_p50_ms": "ms"}
    if args.trace:
        layers = dict(out["layers"])
        layers["jvm.peak_rss_mb"] = peak_rss_mb
        layers["trace.wall_s"] = e2e["wall_s"]
        layers["trace.overhead_ms"] = rec.overhead_s * 1e3
        layers["trace.spans"] = len(rec.spans)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in workloads.LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}

    print(f"context: workload={args.workload} seed={args.seed} cpus={cpus} "
          f"loadavg_1m_before={load_before:.2f} loadavg_1m_after={load_after:.2f} "
          f"ops={len(run.ops)} mismatches={out['mismatches']}")
    for name, why in failures:
        print(f"failed op: {name}: {why}")
    print(json.dumps({"correct": out["mismatches"] == 0,
                      "attempted": len(run.ops),
                      "failed": len(failures),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
