"""Product-path benchmark: one command, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload form1_annual --seed 1 --seconds 30 --trace 0

Run from the repository root. One process runs one workload closed-loop on
``local[nproc]``:

1. inputs are generated from ``--seed`` (cached by workload and seed, so
   generation stays outside every timed region);
2. ``setup_s``: process start to ready (SparkSession up, catalog loaded),
   measured in this process and in a fresh probe process; the median is
   reported;
3. ``cold_run_s``: the first full run in this fresh JVM;
4. warm runs repeat a fixed number of times, one per 5 s of
   ``--seconds`` (a slow host skips the last ones rather than run past
   1.1 x ``--seconds``); ``run_s`` is the median of the second half of
   that plan, because the JIT keeps speeding up the first few warm runs;
5. every run's outputs are checked against the generator's expected
   outputs; a table or mining job whose output differs is a failed
   operation.

With ``--trace 1`` two untraced warm runs alternate with two traced ones,
which record spans around each layer's public functions (see ``tracing.py``)
and the per-layer metrics are medians over them. Spans are written to
``perfbench/_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path[:0] = [str(HERE), str(ROOT)]

PROBES = 1  # extra fresh processes timed for setup_s
# Seconds of --seconds per warm run: a warm run of either workload takes
# 4-6 s on a 4-core host, so 30 s make 6 warm runs.
WARM_RUN_S = 5.0


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host() -> dict:
    """Environment for this process, its JVM and its Python workers."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _mem_total_bytes() / 2**30
    # The session's 24g default heap exceeds RAM on small hosts and aborts
    # the JVM at launch; 3g holds these inputs with room to spare.
    heap_gb = max(1, min(3, int(mem_gb // 4)))
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        # Keep every JVM file inside the work dir; -UsePerfData stops the
        # hsperfdata file HotSpot would otherwise write under /tmp.
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:ErrorFile={WORK / 'hs_err_pid%p.log'}"
            " -XX:-UsePerfData"
        ),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} "
            "pyspark-shell"
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1), "heap": env["SPARK_GRAFT_DRIVER_MEM"]}


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / ticks


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every descendant (JVM, Python
    daemon and workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def start_session():
    from ferc_xbrl_extractor_spark.session import get_spark

    spark = get_spark("xbrl-extract")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_catalog(inputs: Path) -> None:
    catalog = inputs / "catalog.json"
    if catalog.exists():
        from ferc_xbrl_extractor_spark.catalog.tablespec import specs_from_json

        specs_from_json(str(catalog))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it runs) to
    exit: the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def probe(inputs: Path) -> int:
    """Setup probe: start, get ready, say so, stop."""
    spark = start_session()
    load_catalog(inputs)
    print("ready", flush=True)
    stop_session(spark)
    return 0


def probe_setup(workload: str, inputs: Path) -> float:
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--probe", str(inputs)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT,
    )
    try:
        line = proc.stdout.readline()
        ready = time.time() - t0
        proc.stdout.read()
    finally:
        proc.wait(timeout=120)
    if line.strip() != "ready" or proc.returncode != 0:
        raise RuntimeError(f"setup probe failed (exit {proc.returncode})")
    return ready


def host_stamp(spark, pinned: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        **pinned,
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", type=Path, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if argv is None and os.environ.get("PYTHONHASHSEED") != "0":
        # One string-hash seed for the driver, the probe and the Python
        # workers, so set and dict order, and with it the plans the program
        # builds, is the same in every run.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    try:
        import ferc_xbrl_extractor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    pinned = pin_host()
    if args.probe is not None:
        return probe(args.probe)
    t_imported = time.time()

    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    inputs, meta = gen.generate(args.workload, args.seed, WORK / "cache")
    cpu0 = cpu_times()

    setups = [probe_setup(args.workload, inputs) for _ in range(PROBES)]
    t_session = time.time()
    spark = start_session()
    session_s = time.time() - t_session
    load_catalog(inputs)
    setups.append((t_imported - process_start_time()) + (time.time() - t_session))

    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, inputs, meta, WORK / "out" / args.workload
        )
        result, detail = measure(
            spark, wl, args, meta, statistics.median(setups), session_s
        )
        detail = {
            "host": host_stamp(spark, pinned),
            "steal_share": steal_share(cpu0, cpu_times()),
            "setup_samples_s": setups,
            **detail,
        }
    finally:
        stop_session(spark)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


def measure(
    spark, wl, args, meta: dict, setup_s: float, session_s: float
) -> tuple[dict, dict]:
    """Cold run, then warm runs for ``args.seconds``; checks every run."""
    tally = {"attempted": 0, "failed": 0}
    problems: list[str] = []

    def one_run() -> float:
        wl.prepare()
        t0 = time.perf_counter()
        try:
            wl.run()
            wall = time.perf_counter() - t0
            result = wl.check()
        except Exception as exc:  # a crashed run fails every operation
            wall = time.perf_counter() - t0
            result = {op: f"run raised {type(exc).__name__}: {exc}" for op in wl.ops}
        finally:
            wl.finish()
        tally["attempted"] += len(result)
        bad = {op: why for op, why in result.items() if why}
        tally["failed"] += len(bad)
        problems.extend(f"{op}: {why}" for op, why in list(bad.items())[:3])
        return wall

    cold = one_run()
    tracer = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer()
        tracer.py4j.install()
    # Warm runs at fixed positions, not as many as fit the clock: the JIT
    # keeps shortening warm runs for several repetitions, so a loop that
    # stops at a deadline stops a slow host earlier on that curve and
    # reports it slower still. run_s is the median of the runs from the
    # middle of the plan on; the later ones start only while they are
    # expected to end within 1.1 x --seconds, which keeps a slow host
    # within the time limit of all runs at the cost of fewer samples, never
    # of earlier ones. With --trace 1, two untraced runs alternate with two
    # traced ones.
    n_warm = max(2, round(args.seconds / WARM_RUN_S))
    plan = [False] * n_warm if tracer is None else [False, True] * 2
    first = plan.count(False) // 2
    t_end = time.perf_counter() + 1.1 * args.seconds
    untraced: list[float] = []
    traced: list[dict] = []
    last = 0.0
    for is_traced in plan:
        if (
            len(untraced) > first
            and (tracer is None or traced)
            and time.perf_counter() + last > t_end
        ):
            break
        t0 = time.perf_counter()
        if is_traced:
            traced.append(traced_run(spark, wl, tracer, one_run, len(traced) + 1))
        else:
            untraced.append(one_run())
        last = time.perf_counter() - t0
    run_s = statistics.median(untraced[first:])

    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_run_s": (cold, "s"),
            "run_s": (run_s, "s"),
            "items_per_s": (meta["items"] / run_s, "1/s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
            "out_bytes_per_in_byte": (wl.out_bytes() / meta["input_bytes"], "ratio"),
        }
    else:
        metrics = layer_metrics(wl, traced, run_s, session_s)
        tracer.dump(WORK / f"trace-{args.workload}-{args.seed}.json", traced)
    result = {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail = {"inputs": meta, "warm_runs_s": untraced, "problems": problems[:10]}
    return result, detail


def traced_run(spark, wl, tracer, one_run, run_id: int) -> dict:
    """One traced run: spans, py4j trips, GC time and jobs per span."""
    import tracing as tr

    if run_id == 1:
        wl.install_trace(tracer)
    tracer.run_id = run_id
    tracer.counters = {}
    tracer.active = True
    gc0 = tr.jvm_gc_seconds(spark)
    calls0 = tracer.py4j.value()
    t0 = time.time()
    try:
        wall = one_run()
    finally:
        tracer.active = False
    calls = tracer.py4j.value() - calls0
    gc = tr.jvm_gc_seconds(spark) - gc0
    spans = tracer.run_spans(run_id)
    jobs = tr.spark_jobs(spark, t0)
    return {
        "wall": wall,
        "self": tr.by_name(spans),
        "py4j_plan": sum(s["py4j"] for s in spans if s["name"] == "fact_table.plan"),
        "jobs": tr.attribute_jobs(spans, jobs),
        "jobs_total": len(jobs),
        "counters": dict(tracer.counters),
        "gc_s": gc,
        "py4j": calls,
    }


LAYER_TIMES = {
    "filings.scan_s": "filings.scan",
    "shredder.shred_s": "shredder.shred",
    "fact_table.plan_s": "fact_table.plan",
    "dedup.plan_s": "dedup.plan",
    "fact_table.exec_s": "fact_table.exec",
    "sinks.parquet_s": "sinks.parquet",
    "sinks.row_counts_s": "sinks.row_counts",
    "sinks.sqlite_s": "sinks.sqlite",
    "sinks.duckdb_s": "sinks.duckdb",
    "sinks.datapackage_s": "sinks.datapackage",
    "similarity.topk_s": "similarity.topk",
    "similarity.hard_neg_s": "similarity.hard_neg",
    "similarity.knn_join_s": "similarity.knn_join",
    "similarity.margin_s": "similarity.margin",
}
WORKLOAD_COUNTS = (
    "dedup.exact_dropped", "dedup.fuzzy_merged", "dedup.conflicts",
    "similarity.pairs_scored", "similarity.scan_partitions",
)
ROOT_SPANS = ("cli.run_main", "embed.run")
COUNTS = (
    "filings.count", "filings.bytes", "shredder.facts", "shredder.contexts",
    "shredder.nonempty_partitions", "fact_table.rows_out", "sinks.files",
    "sinks.bytes",
)


def layer_metrics(wl, traced: list[dict], run_s: float, session_s: float) -> dict:
    """Per-layer metrics: medians over the traced runs, plus the counts
    only one workload can give (zero on the other)."""
    med = statistics.median

    def m(f):
        return med([f(t) for t in traced])

    metrics: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    for metric, span in LAYER_TIMES.items():
        metrics[metric] = (m(lambda t: t["self"].get(span, 0.0)), "s")
    for name in COUNTS:
        unit = "B" if name.endswith(".bytes") else "count"
        metrics[name] = (m(lambda t: t["counters"].get(name, 0)), unit)
    metrics["fact_table.py4j_calls"] = (m(lambda t: t["py4j_plan"]), "count")
    metrics["fact_table.jobs"] = (m(lambda t: t["jobs"].get("fact_table.exec", 0)), "count")
    metrics["fact_table.nonempty_share"] = (
        m(lambda t: t["counters"].get("fact_table.nonempty", 0)
          / max(1, t["counters"].get("fact_table.tables", 0))),
        "ratio",
    )
    counts = wl.layer_counts()
    for name in WORKLOAD_COUNTS:
        metrics[name] = (counts.get(name, 0), "count")
    metrics["jvm.gc_s"] = (m(lambda t: t["gc_s"]), "s")
    metrics["py4j.calls"] = (m(lambda t: t["py4j"]), "count")
    metrics["spark.jobs"] = (m(lambda t: t["jobs_total"]), "count")
    metrics["glue.self_s"] = (
        m(lambda t: sum(t["self"].get(r, 0.0) for r in ROOT_SPANS)), "s"
    )
    wall = m(lambda t: t["wall"])
    metrics["trace.wall_s"] = (wall, "s")
    metrics["trace.coverage"] = (
        m(lambda t: sum(v for k, v in t["self"].items() if k not in ROOT_SPANS)
          / t["wall"]),
        "ratio",
    )
    metrics["trace.overhead"] = (wall / run_s - 1.0, "ratio")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
