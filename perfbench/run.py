"""linkgraph benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload transcript_pagerank --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a source checkout, as one analyst in a closed loop:
one Python process with a ``local[nproc]`` session, one job at a time, each
waiting for its result.  ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` prints the per-layer metrics, from a run with
the Spark event log on, and the share of the cores the event-log writer
used.  ``--smoke`` runs the tiny self-test scale.  Every
byte the run writes stays under ``.perfbench_work/`` in the checkout and is
removed at exit.

Before the result line, one ``{"host": ...}`` line records the host: nproc,
master, seed, the library default P (read, never overridden), the 1-minute
loadavg at start and end, the JVM pid, and every check's outcome.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _isolate(work: str) -> None:
    """Keep Spark's and Python's temporary files inside the checkout, and
    let Python workers import the checkout's linkgraph."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _session(master: str, extra: dict[str, str] | None):
    from linkgraph.session import get_spark

    spark = get_spark(app_name="perfbench", master=master, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _become_subreaper() -> None:
    """Adopt every orphaned process started under this one (Linux
    PR_SET_CHILD_SUBREAPER), so that ``_stop_jvm`` can wait for it: the JVM
    leaves its launcher's shell and its Python workers behind when it ends."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _descendants(root: int) -> list[int]:
    """Pid of every process under ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _stop_jvm(spark) -> None:
    """Stop the session, the JVM and every process started under this one,
    and wait until each has ended.  Without this the JVM outlives the
    benchmark: it only notices the closed pipe on its stdin after this
    process has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # EOF on its stdin ends the gateway JVM
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    # Reap every child, adopted orphans included; kill what is left after 30 s.
    deadline = time.monotonic() + 30
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _release_cached(spark) -> None:
    """Drop every table and RDD a pass left cached, local checkpoints
    included, so a later pass starts from the same memory state."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():  # noqa: SLF001
        rdd.unpersist(True)


def _eventlog_cpu_s(spark) -> float:
    """CPU seconds used so far by the thread that writes the Spark event log,
    once every event posted so far has been written."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()  # noqa: SLF001
    for tid in mx.getAllThreadIds():
        info = mx.getThreadInfo(tid)
        if info is not None and info.getThreadName() == "spark-listener-group-eventLog":
            return mx.getThreadCpuTime(tid) / 1e9
    raise RuntimeError("no event-log thread in the JVM")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    # A terminated run still stops its session and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    sys.path.insert(0, REPO)
    from linkgraph.graph import DEFAULT_P
    from perfbench import workloads
    from perfbench.spans import Spans, collect, event_log_conf

    wl = workloads.WORKLOADS[args.workload]
    size = workloads.SIZES[args.workload]["smoke" if args.smoke else "full"]
    nproc = os.cpu_count() or 1
    master = f"local[{nproc}]"
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    load_start = _loadavg()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    extra = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]}

    spark = None
    try:
        tic = time.perf_counter()
        spark = _session(master, {**extra, **event_log_conf(log_dir)} if args.trace else extra)
        session_s = time.perf_counter() - tic
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
        shuffle_p = spark.conf.get("spark.sql.shuffle.partitions")

        data = os.path.join(work, "data")
        os.makedirs(data)
        tic = time.perf_counter()
        wl.setup(workloads.Env(spark, data, work, args.seed, size))
        gen_s = time.perf_counter() - tic
        setup_s = session_s + gen_s

        # Timed passes: at least one, more while the run is under --seconds.
        passes, checks, attempted = [], {}, 0
        started = time.perf_counter()
        while not passes or time.perf_counter() - started < args.seconds:
            spans = Spans()
            env = workloads.Env(
                spark, data, os.path.join(work, f"pass{len(passes)}"), args.seed, size, spans
            )
            log_cpu_s = _eventlog_cpu_s(spark) if args.trace else 0.0
            tic = time.perf_counter()
            out = wl.run(env)
            run_s = time.perf_counter() - tic
            if args.trace:
                log_cpu_s = _eventlog_cpu_s(spark) - log_cpu_s
            rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
            tic = time.perf_counter()
            results = wl.checks(env, out)
            if set(results) != set(wl.check_names):
                raise RuntimeError(f"checks ran {sorted(results)}, declared {wl.check_names}")
            for k, ok in results.items():
                checks[f"{k}#{len(passes)}"] = bool(ok)
            attempted += len(results)
            check_s = time.perf_counter() - tic
            layers = wl.layers(env, out) if args.trace else {}
            histories = wl.histories(out)
            del out
            _release_cached(spark)
            passes.append((run_s, rss, spans, layers, histories))
            if args.trace:
                break

        if args.trace:
            run_s, rss, spans, layers, histories = passes[0]
            spark.stop()
            spark = None
            stats, unattributed = collect(log_dir, spans)
            metrics = layer_metrics(
                spans, stats, layers, histories, run_s, log_cpu_s, nproc, unattributed,
            )
            metrics["memory.peak_rss_mb"] = (rss, "MB")
        else:
            pr_s = [_pagerank_s(p[2]) for p in passes]
            metrics = {
                "run_s": (statistics.median(p[0] for p in passes), "s"),
                "setup_s": (setup_s, "s"),
                "pagerank_s": (statistics.median(pr_s), "s"),
                "edges_scattered_per_s": (
                    statistics.median(
                        _scattered(p[4]) / t for p, t in zip(passes, pr_s)
                    ),
                    "1/s",
                ),
            }
        failed = sum(not ok for ok in checks.values())
        host = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "smoke": args.smoke,
            "nproc": nproc,
            "master": master,
            "default_p": DEFAULT_P,
            "shuffle_partitions": shuffle_p,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": _loadavg(),
            "jvm_pid": jvm_pid,
            "passes": len(passes),
            "session_s": session_s,
            "setup_gen_s": gen_s,
            "check_s": check_s,
            "checks": checks,
            "span_walls_s": {s.name: round(s.wall_s, 3) for s in passes[0][2].spans},
            "superstep_walls_s": [round(h["wall_s"], 3) for h in passes[0][4]],
            "peak_rss_mb": passes[0][1],
        }
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"host": host}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(checks),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _pagerank_s(spans) -> float:
    """Wall of the PageRank supersteps: the first run plus the restart."""
    return spans.wall("pagerank") + spans.wall("restart")


def _scattered(histories) -> float:
    """Edges scattered by the PageRank supersteps (nnz per superstep)."""
    return float(sum(h["edges_scattered"] for h in histories))


def layer_metrics(
    spans, stats, layers, histories, run_s, log_cpu_s, nproc, unattributed
) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of BENCHMARK.json; 0 for a layer the workload
    does not touch."""
    from perfbench.spans import LayerStats
    from perfbench.workloads import REGISTRY_ROWS

    def st(name: str) -> LayerStats:
        return stats.get(name, LayerStats())

    def busy(name: str) -> float:
        wall = spans.wall(name)
        return st(name).task_s / (wall * nproc) if wall else 0.0

    walls = [h["wall_s"] for h in histories]
    p50 = statistics.median(walls) if walls else 0.0
    p90 = statistics.quantiles(walls, n=10, method="inclusive")[8] if len(walls) > 1 else p50
    pr_steps = layers.get("pagerank.supersteps", 0)
    per_step = st("pagerank")
    first_steps = max(layers.pop("_pagerank_span_steps", 0), 1)
    pr_wall = _pagerank_s(spans)
    registry_wall = sum(spans.wall("registry." + r) for r in REGISTRY_ROWS)

    m: dict[str, tuple[float, str]] = {
        "derive.wall_s": (spans.wall("derive"), "s"),
        "derive.task_s": (st("derive").task_s, "s"),
        "derive.shuffle_mb": (st("derive").shuffle_mb, "MB"),
        "derive.vertices": (layers.get("derive.vertices", 0), "count"),
        "derive.edges": (layers.get("derive.edges", 0), "count"),
        "build.wall_s": (spans.wall("build"), "s"),
        "build.jobs": (st("build").jobs, "count"),
        "build.tasks": (st("build").tasks, "count"),
        "build.task_s": (st("build").task_s, "s"),
        "build.busy_ratio": (busy("build"), "ratio"),
        "build.shuffle_mb": (st("build").shuffle_mb, "MB"),
        "build.gc_s": (st("build").gc_s, "s"),
        "csr.nnz_directed": (layers.get("csr.nnz_directed", 0), "count"),
        "csr.nnz_undirected": (layers.get("csr.nnz_undirected", 0), "count"),
        "skew.hub_edges": (layers.get("skew.hub_edges", 0), "count"),
        "pagerank.wall_s": (pr_wall, "s"),
        "pagerank.supersteps": (pr_steps, "count"),
        "superstep.wall_p50_s": (p50, "s"),
        "superstep.wall_p90_s": (p90, "s"),
        "superstep.jobs": (per_step.jobs / first_steps, "count"),
        "superstep.stages": (per_step.stages / first_steps, "count"),
        "superstep.tasks": (per_step.tasks / first_steps, "count"),
        "superstep.task_s": (per_step.task_s / first_steps, "s"),
        "superstep.busy_ratio": (busy("pagerank"), "ratio"),
        "superstep.shuffle_mb": (per_step.shuffle_mb / first_steps, "MB"),
        "superstep.gc_s": (per_step.gc_s / first_steps, "s"),
        "superstep.task_skew": (per_step.task_skew, "ratio"),
        "checkpoint.mb_per_step": (layers.get("checkpoint.mb_per_step", 0.0), "MB"),
        "checkpoint.files_per_step": (layers.get("checkpoint.files_per_step", 0.0), "count"),
        "checkpoint.resume_read_s": (spans.wall("resume_read"), "s"),
        "restart.wall_s": (spans.wall("restart"), "s"),
        "triangles.wall_s": (spans.wall("triangles"), "s"),
        "triangles.shuffle_mb": (st("triangles").shuffle_mb, "MB"),
        "incremental.seed_s": (spans.wall("warm_seed"), "s"),
        "registry.wall_s": (registry_wall, "s"),
        "registry.exchanges": (layers.get("registry.exchanges", 0), "count"),
        "registry.single_partition_exchanges": (
            layers.get("registry.single_partition_exchanges", 0), "count",
        ),
        "registry.python_eval": (layers.get("registry.python_eval", 0), "count"),
        "trace.attributed_ratio": (spans.covered_s() / run_s, "ratio"),
        "trace.run_s": (run_s, "s"),
        "trace.eventlog_cpu_ratio": (log_cpu_s / (run_s * nproc), "ratio"),
        "trace.unattributed_jobs": (unattributed, "count"),
    }
    for r in REGISTRY_ROWS:
        m[f"registry.{r}.wall_s"] = (spans.wall("registry." + r), "s")
    return m


if __name__ == "__main__":
    raise SystemExit(main())
