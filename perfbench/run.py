"""Layered benchmark of the retrieval engine.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The line before it records the
run's conditions (seed, nproc, load average, Spark layout, sample
counts); a traced run also prints the per-layer table and writes its
spans to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER_CORES = 4


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _host_cpu():
    """Whole-host CPU jiffies since boot: (all, steal)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t), t[7]


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=0,
                   help="corpus size override (self-test only)")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one result before the checks (self-test only)")
    return p.parse_args(argv)


def _environment(workdir: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and
    pin the session layout, before pyspark is imported."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={os.path.join(workdir, 'spark-local')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms1g' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(k, None)


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait."""
    from pyspark import SparkContext
    from tracing import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 15
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = _parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing (set and dict order in the engine's planning)
        # must not differ from run to run; Spark's Python workers inherit it
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "byzer_retrieval_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    _environment(workdir)

    import report
    from workloads import WORKLOADS
    from tracing import RssSampler, Tracer
    from byzer_retrieval_spark.session import get_spark

    sampler = RssSampler().start()
    load_before = _loadavg()
    shuffle = 8
    spark = get_spark(app_name="perfbench", master=f"local[{MASTER_CORES}]",
                      shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - T_PROCESS
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        w = WORKLOADS[args.workload](spark, os.path.join(workdir, "idx"), args.seed, tracer)
        if args.files:
            w.files = args.files
        w.setup()
        sampler.reset_workers_peak()
        host0 = _host_cpu()
        w.run(args.seconds)
        host1 = _host_cpu()
        workers_peak = sampler.workers_peak_mb
        if args.corrupt:
            w.corrupt_one()
        w.verify()
        kernels = {}
        if args.trace:
            from kernels import kernel_pass

            ctx = w.eng.query_ctx()
            kernels = kernel_pass(ctx.store.postings_path, ctx.n_docs("content"),
                                  ctx.avgdl("content"))
        if args.trace:
            values = report.per_layer(w, tracer, workers_peak, MASTER_CORES, kernels)
            wanted = spec["per_layer"]
        else:
            values = report.end_to_end(w, spark_start_s, sampler.peak_mb)
            wanted = spec["end_to_end"]
        ops = w.window_ops()
        failed_ops = [o for o in ops if o["error"] or o["failures"]]
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "master": spark.sparkContext.master,
            "shards": w.eng.store().read_meta()["num_shards"],
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "files": w.files, "spark_start_s": spark_start_s,
            "setup_s": w.setup_s,
            "loadavg_before": load_before, "loadavg_after": _loadavg(),
            # share of the host's CPU time taken by other guests during the rounds
            "steal_frac": (host1[1] - host0[1]) / max(1, host1[0] - host0[0]),
            "samples": report.samples(w),
            "failures": [{"op": o["op"], "kind": o["kind"], "error": o["error"],
                          "failures": o["failures"]} for o in failed_ops],
        }
    finally:
        sampler.stop()
        _stop_spark(spark)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    if args.trace:
        _print_table(args.workload, metrics)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"record": record, "metrics": metrics,
                       "self_times_s": tracer.self_times(), "spans": tracer.spans,
                       "ops": [_op_record(o) for o in tracer.ops]}, f)
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"perfbench": record}))
    print(json.dumps({"correct": not failed_ops, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))
    return 0


def _op_record(o):
    keep = ("op", "kind", "phase", "error", "wall_s", "context_s", "plan_s",
            "exec_s", "covered_s", "parse_ms", "miss", "spark", "plan", "failures")
    return {k: o[k] for k in keep if k in o}


def _print_table(workload, metrics) -> None:
    print(f"per-layer metrics, workload {workload} (per-op medians)")
    for name, m in metrics.items():
        print(f"  {name:<36} {m['value']:>16.4f} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
