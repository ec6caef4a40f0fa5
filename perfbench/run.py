"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Prints, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything the run writes goes under
``.perfbench_tmp/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

sys.dont_write_bytecode = True  # a run leaves no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "mqtt_influx_storage_service_spark"
WORKLOADS = ("query", "curation")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_ms_per_item": "ms",
    "heap_retained_mb": "MB",
}


def _env(root: str, tmp: str) -> None:
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # Python workers import the package (pandas/Arrow UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "--conf " + shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
                f" -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1, also write the spans (JSON) here")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, root, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def _run(args, root: str, tmp: str) -> int:
    _env(root, tmp)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    os.chdir(tmp)  # spark-warehouse, derby.log and friends land here
    import probes
    import workloads

    work = os.path.join(tmp, "work")
    os.makedirs(work)
    # input generation is not part of setup_s
    if args.workload == "query":
        inputs = workloads.query_inputs(work, args.seed)
    else:
        inputs = workloads.curation_inputs(work, args.seed)

    tree = probes.ProcTree().start()
    t_setup = time.perf_counter()
    from mqtt_influx_storage_service_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    try:
        tracer = probes.Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, tree)
        fn = workloads.query_workload if args.workload == "query" else workloads.curation_workload
        fn(run, work, args.seed, args.seconds, inputs)
        metrics = _e2e_metrics(run, t_setup)
        if args.trace:
            # the traced run's own end-to-end figures, for the overhead
            print("traced end-to-end:", json.dumps(metrics), file=sys.stderr)
            metrics = _layer_metrics(run, spark, probes, tree)
        if args.trace and args.spans:
            with open(args.spans, "w") as fh:
                json.dump(tracer.spans, fh)
    finally:
        tree.close()
        spark.stop()
        gateway.shutdown()
        if jvm_proc is not None:
            jvm_proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                jvm_proc.wait(timeout=30)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait()
    for p in run.problems:
        print("problem:", p, file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _e2e_metrics(run, t_setup: float) -> dict:
    cpu = run.cpu1["total"] - run.cpu0["total"]
    vals = {
        "setup_s": run.setup_done - t_setup,
        "items_per_s": run.items / run.timed_s,
        "op_p50_s": statistics.median(run.latencies),
        "cpu_ms_per_item": 1e3 * cpu / max(run.items, 1),
        "heap_retained_mb": run.heap_retained / 2**20,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def _layer_metrics(run, spark, probes, tree) -> dict:
    j0, j1 = run.first_round_jobs
    ex = probes.exec_metrics(spark, j0, j1)
    layer = dict(run.layer)
    for k, v in ex.items():
        layer[f"exec.{k}"] = v
    # process CPU per timed round, beside the first round's task counters
    rounds = max(1, run.rounds)
    d = {k: (run.cpu1[k] - run.cpu0[k]) / rounds for k in run.cpu0}
    layer["jvm.cpu_s"] = d["jvm"]
    layer["driver.cpu_s"] = max(0.0, d["jvm"] - ex["executor_cpu_s"])
    layer["python.cpu_s"] = d["python"]
    layer["pyworker.cpu_s"] = d["pyworker"]
    layer["mem.peak_rss_mb"] = tree.peak_rss / 2**20
    out = {}
    for name, unit in per_layer_units().items():
        out[name] = {"value": float(layer.get(name, 0.0)), "unit": unit}
    return out


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
