"""Benchmark entry point.

    python3 perfbench/run.py --workload bi_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
`--seed`, drives the engine through its public functions for
`--seconds`, checks every result, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Earlier lines give the run's environment (`env`, with the
CPU time the host stole from the VM during the run) and the client's
wall-clock figures (`client`: median op latency and throughput). A
traced run also prints its own end-to-end figures
(`traced_end_to_end`), so the tracing overhead can be read as traced
minus untraced, and writes its spans under `.perfbench_out/`.

Everything the run writes lives under `.perfbench_work/` (removed at
exit) and `.perfbench_out/` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "snowflake_azure_etl_spark", "__init__.py")
WORKLOADS = ("bi_serve", "etl_refresh")
#: Driver heap, fixed at this size from the start (-Xms as well as
#: -Xmx). The data sets use under 1 GB of heap. Under the program's 16g
#: default the heap grows instead of being collected: on 4 cores a full
#: ETL cycle read 16.5-24.3 s and peak RSS 2.7-4.0 GB over five seeds;
#: with 2g, two of those seeds read 16.0 and 16.7 s and 1.8 GB. A heap
#: left to resize itself made bi_serve's peak RSS read 1.49-2.04 GB over
#: five seeds; fixed, 2.60-2.83 GB.
DRIVER_MEM = "2g"


def pin_environment(work: str) -> int:
    """Pin cores, memory and every scratch location before pyspark loads."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the program's own settings apply unless pinned below
    for name in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[name]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    return nproc


def start_session(work: str):
    from snowflake_azure_etl_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark(extra_conf={
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}"})


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process the run started to end."""
    if spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    import proctree
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        rest = [p.pid for p in proctree.tree(me) if p.pid != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


def steal_s() -> float:
    """CPU time the hypervisor has taken from this VM's vCPUs so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(PACKAGE):
        print(f"engine package not found at {PACKAGE}; run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load0 = os.getloadavg()[0]
    steal0 = steal_s()
    nproc = pin_environment(work)

    import harness
    import pyspark
    module = __import__(args.workload)
    bench = harness.Run(work=work, seed=args.seed,
                        seconds=args.seconds, trace=bool(args.trace))

    def session():
        spark = start_session(work)
        bench.attach(spark)
        return spark

    try:
        end_to_end, client, layers = module.run(bench, session)
        java = (bench.spark.sparkContext._jvm.java.lang.System
                .getProperty("java.version"))
        print(json.dumps({"env": {
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "loadavg_1m_at_start": load0, "java": java,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "driver_memory": DRIVER_MEM,
            "host_steal_s": steal_s() - steal0}}), flush=True)
        print(json.dumps({"client": client}), flush=True)
        if bench.tracer:
            print(json.dumps({"traced_end_to_end": end_to_end}), flush=True)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.write(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        try:
            stop_session(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    values = (end_to_end if not args.trace else
              {**layers, **{f"client.{k}": v for k, v in client.items()}})
    metrics = {}
    for m in wanted:
        name = m["name"]
        if not args.trace and name not in values:
            print(f"end-to-end metric {name} not measured", file=sys.stderr)
            return 3
        # a layer this workload does no work in reads 0
        metrics[name] = {"value": values.get(name, 0.0), "unit": m["unit"]}
    unknown = set(values) - set(metrics)
    if unknown:
        print(f"metrics missing from BENCHMARK.json: {sorted(unknown)}",
              file=sys.stderr)
        return 3
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
