"""Benchmark: one workload of registry queries, run cold in a closed loop.

    python3 perfbench/run.py --workload report-cold --seed 1 --seconds 12 --trace 0

Run from a checkout of the repository. The run

1. generates the input tables from ``--seed`` (``datagen.py``) under
   ``.perfbench/`` in the checkout;
2. starts a Spark session with ``get_spark``;
3. builds every workload query once and checks its result against the
   DuckDB oracle (``oracle.py``); this is also the warm-up pass;
4. runs passes over the workload's queries until ``--seconds`` have
   passed, finishing the pass in progress. Each pass shuffles the
   order (the same orders in every run, see ``ORDER_SEED``), builds
   through ``REGISTRY[name].spark`` and
   executes to the ``noop`` sink. One thread, one query at a time;
5. prints a detail line and then, as the last line of stdout, the
   result ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` every other timed pass is traced (``tracing.py``), the
per-layer metrics are printed instead, and the spans are written to
``.perfbench/trace-<workload>-<seed>.json``. perfbench/README.md
describes every metric.

The exit code is 0 only when a result line was printed; it is 2 when
the checkout has no ``map_reduce_sf_crime_spark`` package to run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "map_reduce_sf_crime_spark"
#: scale factor of the generated tables (sf0.01: 60k lineitem rows)
SF = 0.01
#: seed of the query order in the timed passes (the inputs come from --seed)
ORDER_SEED = 0
#: driver JVM heap, fixed (-Xms = -Xmx) and touched at start, so that
#: heap resizing does not make the footprint and GC vary between runs
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="scale factor of the generated tables")
    return ap.parse_args(argv)


def prepare_env(work: str, cores: int) -> None:
    """Settings the Spark JVM and its Python workers inherit: temp
    files stay in the checkout, no console progress bar, and workers
    import the package from the checkout whatever the cwd is."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # left by an earlier, killed run
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        shlex.quote(" ".join([
            f"-Djava.io.tmpdir={tmp}",
            f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch",
            # compiler threads that never exit, so JIT_THREADS covers all
            "-XX:-UseDynamicNumberOfCompilerThreads",
        ])),
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over user..steal from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return (0, 0)
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


#: JVM threads whose CPU is left out of the CPU metrics: how far the
#: JIT has got when a pass runs depends on how much CPU the host gave
#: the run before it, not on the program
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while we looked
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def program_cpu_s(pid: int, jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by the process ``pid``
    and every live descendant, with their reaped children: the Python
    driver, the Spark JVM, the Python worker daemon and its workers.
    The JVM's JIT compiler threads are left out. Time the hypervisor
    steals is not charged to a process."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            fields = st[1]
            children.setdefault(int(fields[1]), []).append(int(name))
            ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(children.get(p, []))
    return total / os.sysconf("SC_CLK_TCK") - jit_cpu_s(jvm_pid)


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads."""
    task = f"/proc/{jvm_pid}/task"
    ticks = 0
    for tid in os.listdir(task):
        st = _stat(f"{task}/{tid}/stat")
        if st and st[0].startswith(JIT_THREADS):
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used MB of each JVM heap memory pool since the JVM started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        pool.getName(): pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    }


def stop_session(spark) -> None:
    """Stop streams and the context, then the JVM, and wait for it."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def run(args: argparse.Namespace, out) -> int:
    import datagen
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))  # what nproc prints
    work = os.path.join(ROOT, ".perfbench")
    prepare_env(work, cores)
    sys.path.insert(0, ROOT)
    from map_reduce_sf_crime_spark.plans.registry import REGISTRY
    from map_reduce_sf_crime_spark.session import get_spark
    from oracle import Oracle

    queries = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir = datagen.write(
        os.path.join(work, "data", f"perfbench-sf{args.sf:g}"), args.seed, args.sf
    )
    bench_s = time.perf_counter() - t0  # the benchmark's own share of set-up
    log(f"tables for seed {args.seed} at sf{args.sf:g} in {data_dir}")
    steal0 = steal_ticks()

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        log(f"get_spark {get_spark_s:.2f} s")

        attempted = failed = 0
        mismatches: dict[str, str] = {}
        oracle = Oracle(data_dir)
        check_query_s: dict[str, float] = {}
        t0 = time.perf_counter()
        for q in queries:
            attempted += 1
            tq = time.perf_counter()
            try:
                got = REGISTRY[q].spark(spark, data_dir).toPandas()
                sql = REGISTRY[q].oracle
                t1 = time.perf_counter()
                why = oracle.check(got, sql) if sql else "no oracle"
                bench_s += time.perf_counter() - t1
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            check_query_s[q] = time.perf_counter() - tq
            if why:
                failed += 1
                mismatches[q] = why
                log(f"CHECK FAILED {q}: {why}")
        oracle.close()
        check_s = time.perf_counter() - t0
        log(f"checked {len(queries)} queries in {check_s:.1f} s, {len(mismatches)} failed")
        # set-up: process start to the first timed query, less the
        # benchmark's own input generation and oracle side
        setup_s = time.perf_counter() - T_START - bench_s
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        def cpu() -> float:
            return program_cpu_s(os.getpid(), jvm_pid)

        if tracer is not None:
            tracer.attach(spark)
        # the pass orders are the same in every run: a run often has one
        # timed pass, and the first queries of a pass still run while the
        # JIT warms, so an order drawn from --seed moved each query's
        # latency by up to a third from seed to seed
        rng = random.Random(ORDER_SEED)
        order = list(queries)
        last = queries[-1]
        latencies: list[float] = []
        query_cpu: list[float] = []
        per_query: dict[str, list[float]] = {q: [] for q in queries}
        per_query_cpu: dict[str, list[float]] = {q: [] for q in queries}
        slowest: list[float] = []
        passes: list[float] = []
        pass_cpu: list[float] = []
        traced_passes: list[float] = []
        deadline = time.perf_counter() + args.seconds
        # a trace run alternates plain and traced passes and ends on a
        # plain one: passes still speed up as the JIT warms, so the
        # overhead compares a traced pass with plain ones on both sides
        while (time.perf_counter() < deadline or not passes
               or (tracer is not None
                   and (not traced_passes or len(passes) <= len(traced_passes)))):
            rng.shuffle(order)
            if order[0] == last:  # a repeat would hit the built-frame memo
                order[0], order[1] = order[1], order[0]
            traced = tracer is not None and len(traced_passes) < len(passes)
            if traced:
                tracer.begin_pass()
            pc0 = cpu()
            p0 = time.perf_counter()
            for q in order:
                attempted += 1
                c = cpu()
                t = time.perf_counter()
                try:
                    if traced:
                        tracer.run_query(q, REGISTRY[q].spark, data_dir)
                    else:
                        df = REGISTRY[q].spark(spark, data_dir)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    log(f"QUERY FAILED {q}: {type(e).__name__}: {str(e)[:200]}")
                if traced:
                    tracer.harvest()
                else:
                    latencies.append(time.perf_counter() - t)
                    query_cpu.append(cpu() - c)
                    per_query[q].append(latencies[-1])
                    per_query_cpu[q].append(query_cpu[-1])
            if traced:
                traced_passes.append(tracer.end_pass())
            else:
                passes.append(time.perf_counter() - p0)
                pass_cpu.append(cpu() - pc0)
                slowest.append(max(latencies[-len(order):]))
            last = order[-1]
            log(f"pass {len(passes) + len(traced_passes)} "
                f"({'traced' if traced else 'plain'}): "
                f"{(traced_passes if traced else passes)[-1]:.2f} s")

        peak_rss_mb = vm_hwm_mb(jvm_pid) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        heap_peaks = heap_peaks_mb(spark)
        if tracer is not None:
            tracer.detach()
    finally:
        if spark is not None:
            stop_session(spark)
    steal1 = steal_ticks()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    # each query's median over the timed passes
    query_s = {q: statistics.median(v) for q, v in per_query.items() if v}
    query_cpu_s = {q: statistics.median(v) for q, v in per_query_cpu.items() if v}
    # gated in BENCHMARK.json. CPU seconds are gated next to wall seconds
    # because hypervisor steal moves the wall time (see steal_pct). The
    # per-query figures are geometric means over the workload's queries,
    # which weigh every query alike and use all of them: a run often has
    # one timed pass, and the median of its ~10 latencies rests on two
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_gmean_s": (statistics.geometric_mean(query_s.values()), "s"),
        "pass_cpu_s": (statistics.median(pass_cpu), "s"),
        "query_cpu_gmean_s": (statistics.geometric_mean(query_cpu_s.values()), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "heap_peak_mb": (sum(heap_peaks.values()), "MB"),
    }
    reported = {
        "query_p50_s": (statistics.median(latencies), "s"),
        "query_cpu_p50_s": (statistics.median(query_cpu), "s"),
        "query_tail_s": (statistics.median(slowest), "s"),
        "fail_ratio": (failed / attempted, "ratio"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "nproc": os.cpu_count(),
        "spark_cores": cores,
        "steal_pct": round(steal_pct, 3),
        "query_s": query_s,
        "query_cpu_s": query_cpu_s,
        "timed_queries": len(latencies),
        "passes": len(passes),
        "pass_times_s": passes,
        "heap_peaks_mb": heap_peaks,
        "get_spark_s": get_spark_s,
        "check_s": check_s,
        "check_query_s": check_query_s,
        "mismatches": mismatches,
        "end_to_end": {
            k: {"value": v, "unit": u} for k, (v, u) in (e2e | reported).items()
        },
    }
    if tracer is not None:
        metrics = tracer.metrics(
            get_spark_s=get_spark_s,
            plain_pass_s=statistics.median(passes),
        )
        trace_path = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path)
        detail["trace_file"] = trace_path
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps(detail), file=out)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), file=out, flush=True)
    return 0


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; run it from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(sys.argv[1:])
    # Only this process's result lines go to stdout: the JVM and the
    # Python workers inherit fd 1, so point it at stderr and keep a
    # private copy of the real stdout for the result.
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        return run(args, out)
    finally:
        out.close()


if __name__ == "__main__":
    sys.exit(main())
