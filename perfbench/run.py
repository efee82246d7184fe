"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the host record (nproc, load average, canary time, session settings) and
the per-run details. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


WORK_ROOT = os.path.join(ROOT, ".bench_work")


def session_env(work: str) -> dict[str, str]:
    """Size the Spark session to the box: one local core per CPU, a driver
    heap well below physical RAM, shuffle spill on disk inside the
    checkout, and the checkout on the Python workers' import path."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{min(1024, mem_kb // 1024 // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return env


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave other guests during the run."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def canary_s(spark) -> float:
    """Fixed-cost pure-CPU Spark job (bench.py's canary, 1/8 the rows):
    its time depends only on host contention."""
    t0 = time.perf_counter()
    spark.range(1 << 27, numPartitions=8).selectExpr("sum(id % 1000003)").collect()
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "esbulk_spark", "__init__.py")):
        print(f"esbulk_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    # one directory per process: a second run in the same checkout
    # cannot delete this run's index
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = session_env(work)
    sys.path.insert(0, ROOT)

    from spans import JobCounter, NullRecorder, Recorder, install

    rec = Recorder() if args.trace else NullRecorder()
    if args.trace:
        install(rec)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()

    from esbulk_spark import session

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name="perfbench",
            shuffle_partitions=2 * int(env["SPARK_GRAFT_CPUS"]),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the heap starts at its maximum size: a JVM left to grow
                # it follows GC ergonomics, which follow the host's speed,
                # and its high-water RSS then spreads several times wider
                # from run to run (README.md, "Sizing")
                "spark.driver.extraJavaOptions": f"-Xms{env['SPARK_DRIVER_MEM']}",
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        run = W.Run(spark, work, args.seed, args.seconds, rec,
                    JobCounter(spark.sparkContext, bool(args.trace)))
        run.setup["session_s"] = session_s
        t0 = time.perf_counter()
        with rec.span("setup.corpus"):
            corpus = W.make_corpus(run, "corpus_main", W.MAIN_DOCS, args.seed)
            delta = None
            if args.workload == "append_serve":
                delta = W.make_corpus(run, "corpus_delta", W.DELTA_DOCS,
                                      args.seed + 1_000_003)
            run.facts["content_bytes"] = W.content_bytes(corpus)
        run.setup["corpus_s"] = time.perf_counter() - t0

        W.timed_build(run, corpus, W.MAIN_DOCS)

        t0 = time.perf_counter()
        with rec.span("setup.queries"):
            pool = W.sample_queries(run)
        run.setup["queries_s"] = time.perf_counter() - t0

        if args.workload == "query_serve":
            W.query_serve(run, pool)
        else:
            W.append_serve(run, pool, delta)
        t0 = time.perf_counter()
        W.oracle_gate(run)
        run.facts["gate_s"] = time.perf_counter() - t0

        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        host = {
            "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "steal_share": steal_share(ticks_start, cpu_ticks()),
            "canary_s": [canary_s(spark) for _ in range(2)][-1],
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass

    if args.trace:
        spans_dir = os.path.join(WORK_ROOT, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        rec.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))

    import metrics as M

    e2e = M.end_to_end(run, peak_rss)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": M.per_layer(run, e2e) if args.trace else M.units(e2e),
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "env": env, "setup": run.setup, "facts": run.facts,
        "op_ms": {k: [round(1000 * x, 1) for x in v] for k, v in run.times.items()},
        "checked": [
            {"query": c.query, "state": c.state, "top": [d for d, _ in c.rows]}
            for c in run.served
        ],
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
