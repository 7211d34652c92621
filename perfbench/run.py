"""Benchmark for the pipeline's user paths: stream ingest and batch queries.

    python3 perfbench/run.py --workload {stream_ingest,batch_queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are made under .bench_build/perfbench/
in the checkout (the stream from --seed; the batch tables from a fixed seed,
made once and reused); nothing outside the checkout is read or written.  The
last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With --trace 0 the metrics are the end-to-end figures (END_TO_END).  With
--trace 1 they are the per-layer figures (workloads.PER_LAYER), taken from a
traced second half of the run whose first half runs untraced; the gap
between the halves is reported as trace.overhead_frac.  The lines before the
result print the workload's own figures (stream_rows_per_s, batch_pass_s,
...) by name and unit, then a `detail` JSON line with the environment, the
calibration probe, the seed and the samples behind each figure; the detail
and a traced run's spans are also kept under .bench_build/perfbench/results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5  # set-ups per run (the first launches the JVM); setup_s is their median
DRIVER_MEM = "2g"  # well below host RAM; session.py defaults to 16g

# (name, unit, better) of the end-to-end figures every workload reports.  An
# op is a micro-batch of the topology's main query (stream_ingest) or one
# registry query (batch_queries).  work_per_s is input rows per second
# after the first batch (stream_rows_per_s) or queries per second over one
# balanced pass (the set's size / batch_pass_s); op_p50_s is the median
# micro-batch time (stream_batch_p50_s) or the median over the set of each
# query's fastest run; cpu_s_per_op is the CPU time of the benchmark's
# process tree (driver, JVM, Python workers) per micro-batch after the first,
# or per query over a balanced pass.  CPU time leaves out what the host's
# hypervisor steals, which moves the wall-clock figures on a shared host.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ops_ok_frac", "frac", "higher"),
    ("work_per_s", "1/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("cpu_s_per_op", "s", "lower"),
)


def pin_environment(work: str) -> dict:
    """Settings every run uses, applied before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        # Every JVM (spark-submit's launcher too) keeps its temp files in the
        # checkout and writes no /tmp/hsperfdata_* counters.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package for Arrow / mapInPandas stages.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    time.tzset()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {**env, "cpus": cpus, "host_mem_mb": mem_kb // 1024}


def cpu_jiffies() -> list[int]:
    """Host-wide CPU counters from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def batch_tables(base: str, sf: float) -> str:
    """The batch tables at scale `sf`, made once per checkout (they do not
    depend on --seed) and moved into place whole."""
    import gen

    path = os.path.join(base, f"tables-sf{sf}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        gen.write_tables(tmp, sf)
        os.rename(tmp, path)
    return path


def run(workload: str, seed: int, seconds: float, traced: bool, work: str, base: str) -> tuple[dict, dict]:
    import workloads as w
    from spans import Tracer, median

    from real_time_iot_data_engineering_pipeline_spark import registry

    t_run = time.perf_counter()
    b = w.Bench(work, seed)
    streaming = workload == "stream_ingest"
    if not streaming:
        fixture = batch_tables(base, w.BATCH_SF)

    def warm_up() -> None:
        if streaming:
            w.stream_warmup(b)
        else:
            w.batch_warmup(b, fixture)

    setup_s = []
    for _ in range(SETUPS):
        b.stop()
        t0 = time.perf_counter()
        b.build()
        registry.load_all()
        warm_up()
        setup_s.append(time.perf_counter() - t0)
    pids = {os.getpid(), b.jvm_pid()}
    phases = {"setup": time.perf_counter() - t_run}

    failed_names: set[str] = set()
    checked: dict[str, float] = {}
    if not streaming:
        failed_names, checked = w.batch_correctness(b, fixture)
    phases["correctness"] = time.perf_counter() - t_run - phases["setup"]

    def measure(secs: float, tracer, half: int):
        if streaming:
            return w.stream_ingest(b, secs, tracer, half)
        return w.batch_queries(b, secs, tracer, half, fixture, failed_names)

    for _ in range(w.PROBES):
        b.probe()
    cpu0 = cpu_jiffies()
    t_measure = time.perf_counter()
    if not traced:
        o = measure(seconds, None, 0)
    else:
        plain = measure(seconds / 2, None, 0)
        b.build(event_log=True)
        warm_up()
        tracer = Tracer()
        o = measure(seconds / 2, tracer, 1)
        o.attempted += plain.attempted
        o.failed += plain.failed
        o.layers["trace.overhead_frac"] = o.primary / plain.primary - 1
        tracer.dump(os.path.join(base, "results", f"{workload}-seed{seed}-spans.jsonl"))
    phases["measure"] = time.perf_counter() - t_measure
    d = [y - x for x, y in zip(cpu0, cpu_jiffies())]
    if b.spark is None:  # a traced run stopped its session to flush the event log
        b.build()
    for _ in range(w.PROBES):
        b.probe()
    rss = peak_rss_mb(pids)
    calibration = {
        "probe_s": median(b.probes),
        "probe_samples_s": b.probes,  # before and after the measured window
        "host_steal_frac": d[7] / max(1, sum(d)),  # vCPU time taken by the hypervisor
    }
    if traced:
        metrics = {**w.empty_layers(), **o.layers}
        units = {name: unit for name, unit, _ in w.PER_LAYER}
    else:
        metrics = {
            "setup_s": median(setup_s),
            "peak_rss_mb": rss,
            "ops_ok_frac": 1 - o.failed / o.attempted,
            "work_per_s": o.work_per_s,
            "op_p50_s": o.op_p50_s,
            "cpu_s_per_op": o.cpu_s_per_op,
        }
        units = {name: unit for name, unit, _ in END_TO_END}
    named = {
        "setup_s": (median(setup_s), "s"),
        "peak_rss_mb": (rss, "MB"),
        "ops_failed_frac": (o.failed / o.attempted, "frac"),
        "work_per_s": (o.work_per_s, "1/s"),
        "op_p50_s": (o.op_p50_s, "s"),
        "cpu_s_per_op": (o.cpu_s_per_op, "s"),
        **{k: v for k, v in o.detail.items() if isinstance(v, tuple)},
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "calibration": calibration,
        "setup_samples_s": setup_s,
        "phases_s": phases,
        "correctness_s": checked,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        **{k: v for k, v in o.detail.items() if not isinstance(v, tuple)},
    }
    result = {
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    b.stop()
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import workloads
        import tests.oracle_utils  # noqa: F401  (the batch workloads' oracle check)
    except ImportError as exc:
        print(f"perfbench: the program is missing from this checkout: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    env = pin_environment(work)
    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work, base)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    detail["env"] = env
    for name, m in detail["named"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    line = json.dumps({"detail": detail}, default=str)
    with open(os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
