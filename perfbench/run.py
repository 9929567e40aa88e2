#!/usr/bin/env python3
"""feathr_spark benchmark: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload pit_zipf --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The process pins its configuration
(cores, heap, scratch directories, all inside the checkout), starts a
local Spark session, synthesizes the workload's inputs from ``--seed``,
runs untimed warm-up operations, then timed operations for ``--seconds``
and at least the workload's fixed count. The last line of standard
output is the result: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics.
The line before it is the run record: configuration, per-operation
times and host load. See perfbench/README.md.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_RUN_S = 150  # stop timing new operations past this, whatever --seconds says

# BENCHMARK.json names the workloads and every metric with its unit
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def _heap() -> str:
    """Driver heap that fits the box: 2 GiB, or 1 GiB under 10 GiB of
    RAM. The engine's default (48g) assumes a large host."""
    with open("/proc/meminfo") as fh:
        total_gib = int(fh.readline().split()[1]) / 2**20
    return "2g" if total_gib >= 10 else "1g"


def pin_environment(work: str) -> dict:
    """Environment read by feathr_spark.session and by the Spark JVM and
    Python workers it starts. Must run before feathr_spark is imported."""
    cpus = len(os.sched_getaffinity(0))
    heap = _heap()
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        # unset, the engine sizes shuffles for 32 cores
        "SPARK_GRAFT_CPUS": str(cpus),
        "FEATHR_SPARK_DRIVER_MEM": heap,
        # the engine then sets -Xms to the heap and pre-faults it at JVM
        # start, so heap growth lands in setup_s, not in a timed operation
        "FEATHR_SPARK_PRETOUCH": "1",
        # Python workers import feathr_spark kernels by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # keep shuffle files and temporary files inside the checkout
        "FEATHR_SPARK_LOCAL_DIR": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
    })
    os.environ.pop("FEATHR_SPARK_MASTER", None)
    return {
        "cpus": cpus,
        "heap": heap,
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            # the benchmark's own JVM flags; Spark puts them before the
            # engine's spark.driver.extraJavaOptions, which stay in force
            "spark.driver.defaultJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            # keep every job, stage and SQL execution of the run for sparkstats
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _reap_descendants() -> None:
    """Terminate any process this run started that is still alive."""
    from perfbench.procstat import tree_pids

    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(
                p != me for p in tree_pids(me)):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)


def run(args, work: str, pinned: dict) -> dict:
    from perfbench import procstat
    from perfbench.sparkstats import SparkStats
    from perfbench.tracing import Tracer

    tr = Tracer(T_START)
    tr.enabled = bool(args.trace)
    me = os.getpid()
    with procstat.PeakMem(me) as mem:
        with tr.span("session.start"):
            from feathr_spark import get_spark
            from perfbench.workloads import WORKLOADS as CLASSES

            spark = get_spark(cpus=pinned["cpus"], app_name=f"perfbench-{args.workload}",
                              extra_conf=pinned["extra_conf"])
        try:
            mem.attach(procstat.JvmHeap(spark.sparkContext._jvm))
            if args.trace:
                tr.stats = SparkStats(spark)
            wl = CLASSES[args.workload](spark, args.seed, work, tr)
            with tr.span("datagen.synth", spark=True):
                wl.setup()
            tr.enabled = False
            ops = []

            def operation(i: int, timed: bool, traced: bool) -> None:
                tr.enabled, tr.iteration = traced, i
                op = {"i": i, "timed": timed, "traced": traced, "errors": []}
                j0, c0, t0 = procstat.cpu_jiffies(), procstat.tree_cpu_s(me), time.monotonic()
                try:
                    with tr.span("op", spark=True):
                        op["res"] = wl.run(i)
                except Exception:
                    op["errors"].append(traceback.format_exc())
                op["wall_s"] = time.monotonic() - t0
                op["cpu_s"] = procstat.tree_cpu_s(me) - c0
                op["host"] = procstat.host_window(j0, procstat.cpu_jiffies())
                tr.enabled = False
                if "res" in op:
                    try:
                        wl.after(op["res"])
                        op["errors"] += wl.check(op["res"])
                    except Exception:
                        op["errors"].append(traceback.format_exc())
                ops.append(op)

            for i in range(wl.warmup):
                operation(i, timed=False, traced=False)
            setup_s = time.monotonic() - T_START
            t_meas = time.monotonic()
            # a traced run alternates untraced and traced operations
            need = max(4, wl.timed) if args.trace else wl.timed
            n = 0
            while n < need or (time.monotonic() - t_meas < args.seconds
                               and time.monotonic() - T_START < MAX_RUN_S):
                operation(wl.warmup + n, timed=True, traced=bool(args.trace) and n % 2 == 1)
                n += 1

            done = [op for op in ops if "res" in op]
            if done:
                try:
                    for op, bad in zip(done, wl.verify([op["res"] for op in done])):
                        op["errors"] += bad
                except Exception:
                    for op in done:
                        op["errors"].append("oracle raised:\n" + traceback.format_exc())
            layer_rows = [wl.layers(op["i"], op["res"]) for op in ops
                          if op["traced"] and "res" in op]
            wl.teardown()
        finally:
            conf = {k: spark.conf.get(k) for k in
                    ("spark.master", "spark.sql.shuffle.partitions", "spark.local.dir",
                     "spark.driver.memory")}
            mem.attach(None)
            _stop_jvm(spark)

    timed = [op for op in ops if op["timed"]]
    plain = [op for op in timed if not op["traced"]]
    traced = [op for op in timed if op["traced"]]
    failed = sum(1 for op in ops if op["errors"])
    for op in ops:
        for e in op["errors"][:3]:
            print(f"perfbench: operation {op['i']} failed: {e}", file=sys.stderr)
    job_s = _median([op["wall_s"] for op in plain])
    rows = _median([op["res"]["rows"] for op in timed if "res" in op])
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": rows / job_s if job_s else 0.0,
        "job_cpu_s": _median([op["cpu_s"] for op in plain]),
        "peak_mem_mb": mem.peak_mb,
        "ok_frac": 1.0 - failed / len(ops),
    }
    if args.trace:
        # every workload reports every per-layer metric; a layer it does
        # not exercise reads 0
        layer = {m["name"]: 0.0 for m in BENCH["per_layer"]}
        for k in {k for row in layer_rows for k in row}:
            layer[k] = _median([row[k] for row in layer_rows if k in row])
        layer["session.start_s"] = tr.of("session.start", -1).wall_s
        layer["datagen.synth_s"] = tr.of("datagen.synth", -1).wall_s
        op_spans = [tr.of("op", op["i"]) for op in traced]
        layer["spark.jobs"] = _median([s.spark["jobs"] for s in op_spans])
        layer["spark.tasks"] = _median([s.spark["tasks"] for s in op_spans])
        layer["trace.overhead_frac"] = _median([op["wall_s"] for op in traced]) / job_s - 1.0
        # share of the untraced operation time that the layer spans cover
        layer["trace.cover_frac"] = _median([
            sum(s.wall_s for s in tr.spans if s.parent == sp.id) for sp in op_spans
        ]) / job_s
        metrics = layer
        os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                             f"{args.workload}-seed{args.seed}-{tr.run_id}.json"))

    record = {
        "workload": args.workload, "seed": args.seed, "sf": wl.sf, "trace": args.trace,
        "cpus": pinned["cpus"], "heap": pinned["heap"], "conf": conf,
        "local_dir_fs": procstat.mount_of(conf["spark.local.dir"]),
        "n_fact": wl.n_fact, "n_obs": wl.n_obs, "warmup": wl.warmup,
        "setup_s": setup_s,
        "mem_mb_at_peak": {k: round(v / 2**20) for k, v in mem.at_peak.items()},
        "ops": [{"i": op["i"], "timed": op["timed"], "traced": op["traced"],
                 "wall_s": round(op["wall_s"], 4), "cpu_s": round(op["cpu_s"], 3),
                 "failed": bool(op["errors"]), **op["host"]} for op in ops],
    }
    print(json.dumps({"perfbench_run": record}))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "feathr_spark", "__init__.py")):
        print(f"perfbench: no feathr_spark package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        pinned = pin_environment(work)
        result = run(args, work, pinned)
    finally:
        _reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
