"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every input is generated from ``--seed``
into ``.perfbench_work/`` under the checkout, which is also where Spark's
scratch space, temp files, JVM stderr and the traced run's spans go;
nothing is read from or written to anywhere else. Spark runs in one
client process at local[nproc], with the master passed explicitly.

With ``--trace 0`` the last line of stdout is one JSON object holding
every end-to-end metric; with ``--trace 1`` it holds every per-layer
metric instead (the traced run opens a span around each call into a
layer and reads Spark's status stores after the measured window). The
line before it is a JSON record of the run's environment and details.
The process exits non-zero, without a result, if the package under test
is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this directory heads sys.path; drop it so the package
# is only ever imported as ``perfbench``
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
SETUPS = 3
DRIVER_MEMORY = "2g"
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "geomean_s": "s",
    "items_per_s": "1/s",
    "lag_p50_s": "s",
    "lag_p75_s": "s",
    "peak_pss_mb": "MB",
}
REQUIRED = ("parallel_dataflow_spark/__init__.py", "__spark_entry__.py", "tools/oracle_check.py")


def steal_seconds() -> float:
    """Cumulative hypervisor steal time from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def tree_memory(root_pid: int) -> dict[int, tuple[str, int, int]]:
    """{pid: (name, rss_bytes, pss_bytes)} for ``root_pid`` and all its
    descendants (driver, JVM, Python workers). PSS splits pages shared by
    forked workers between them; RSS counts them in each."""
    children: dict[int, list[int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    stat: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        stat[pid] = (head.split("(", 1)[1], int(fields[21]) * page)
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if pid not in stat:
            continue
        pss = 0
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        pss = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
        out[pid] = (*stat[pid], pss)
    return out


class PeakMemory(threading.Thread):
    """Samples the process tree every ``interval`` seconds; keeps the peak
    PSS and RSS totals and the per-process breakdown at the PSS peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(name="peak-memory", daemon=True)
        self.interval = interval
        self.peak_pss = self.peak_rss = 0
        self.at_peak: dict[str, list[int]] = {}
        self._stop_event = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_event.is_set():
            procs = tree_memory(me)
            self.peak_rss = max(self.peak_rss, sum(p[1] for p in procs.values()))
            pss = sum(p[2] for p in procs.values())
            if pss > self.peak_pss:
                self.peak_pss = pss
                self.at_peak = {
                    f"{pid}:{'driver' if pid == me else p[0]}": [p[1] >> 20, p[2] >> 20]
                    for pid, p in procs.items()
                }
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


class Context:
    def __init__(self, args, tracer, nproc: int, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = tracer
        self.nproc = nproc
        self.work = work


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: str, nproc: int) -> None:
    """Point every scratch location at the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp
    os.chdir(work)


def redirect_stderr(path: str) -> int:
    """Send fd 2 (the JVM inherits it) to ``path``; return the saved fd."""
    saved = os.dup(2)
    fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def start_session(master: str, nproc: int, work: str):
    from parallel_dataflow_spark.session import get_spark

    retained = "1000000"
    return get_spark(
        "perfbench",
        master=master,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def stop_session() -> None:
    from parallel_dataflow_spark.session import stop_spark

    stop_spark()


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM is already gone
    proc = gw.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def trace_patches(tracer):
    """Time the sink's epoch writes from outside the sink."""
    from parallel_dataflow_spark.streaming.sink import IdempotentKeyedSink

    original = IdempotentKeyedSink.write_batch

    def write_batch(self, batch_df, batch_id, n_files=8):
        with tracer.span("streaming.sink_write"):
            return original(self, batch_df, batch_id, n_files)

    IdempotentKeyedSink.write_batch = write_batch


def layer_metrics(ctx, spark, res) -> dict[str, float]:
    """Every per-layer metric (0 where a layer is not exercised), plus
    any the workload reports beyond the common set."""
    from perfbench import sparkstats, workloads
    from perfbench.stats import layer_self_times

    tr = ctx.tracer
    t_collect = time.time()
    t0 = min(w[0] for w in res.windows)
    t1 = max(w[1] for w in res.windows)
    out = dict.fromkeys(workloads.LAYER_METRICS, 0.0)
    out.update(dict.fromkeys((f"plans.{q}.s" for q in workloads.graded_query_names()), 0.0))
    out.update(
        {
            "session.start_s": tr.total("session.start") / SETUPS,
            "sources.generate_s": tr.total("sources.generate") / SETUPS,
            "plans.build_s": tr.total("plans.build"),
            "plans.collect_s": tr.total("plans.collect"),
            "streaming.sink_write_s": sum(
                s["end"] - s["start"]
                for s in tr.finished()
                if s["name"] == "streaming.sink_write"
                and any(a <= s["start"] <= b for a, b in res.windows)
            ),
        }
    )
    out.update(sparkstats.window_summary(spark, t0, t1))
    out.update(res.layer)
    for layer, s in layer_self_times(tr.finished()).items():
        out[f"self.{layer}_s"] = s
    out["operators.fixpoint.load_s"] = tr.total("operators.fixpoint.load") / SETUPS
    out["trace.wall_s"] = res.end_to_end()["wall_s"]
    out["trace.collect_s"] = time.time() - t_collect
    return out


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: missing {', '.join(os.path.join(ROOT, p) for p in missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    hermetic_env(work, nproc)
    saved_stderr = redirect_stderr(os.path.join(work, "jvm_stderr.log"))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), run_id)
    ctx = Context(args, tracer, nproc, work)
    mem = PeakMemory()
    mem.start()
    steal0, t_run = steal_seconds(), time.time()
    try:
        out = run(ctx, WORKLOADS[args.workload], master)
    except Exception as e:
        import traceback

        os.write(saved_stderr, traceback.format_exc().encode())
        os.write(saved_stderr, f"perfbench: run failed: {e}\n".encode())
        return 1
    finally:
        mem.stop()
        shutdown_jvm()
    info, metrics = out
    info.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "master": master,
            "steal_s": round(steal_seconds() - steal0, 3),
            "peak_rss_mb": mem.peak_rss / 2**20,
            "at_peak_pss_rss_and_pss_mb": mem.at_peak,
            "run_s": round(time.time() - t_run, 3),
        }
    )
    if not args.trace:
        metrics["peak_pss_mb"] = mem.peak_pss / 2**20
    else:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", f"{run_id}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        shown = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(metrics.items())}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": info["failed"] == 0,
                "attempted": info["attempted"],
                "failed": info["failed"],
                "metrics": shown,
            }
        )
    )
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_bytes") or name.endswith(".bytes_to_python") or name.endswith(".bytes_from_python"):
        return "bytes"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_eff_1_to_nproc"):
        return "ratio"
    return "count"


def run(ctx, workload_cls, master: str):
    """Set up ``SETUPS`` times (fresh session, generated inputs), warm up
    once on the last set-up, then measure and check the outputs.
    ``setup_s`` is the median set-up plus the warm-up."""
    import pyspark

    from perfbench.stats import error_rate

    tr = ctx.tracer
    if ctx.traced:
        trace_patches(tr)
    wl = workload_cls(ctx)
    setup_times = []
    for k in range(SETUPS):
        if k:
            stop_session()
        data_dir = os.path.join(ctx.work, f"inputs{k}")
        t0 = time.time()
        with tr.span("session.start"):
            spark = start_session(master, ctx.nproc, ctx.work)
        inputs = wl.prepare(spark, data_dir)
        setup_times.append(time.time() - t0)
        if k < SETUPS - 1:
            shutil.rmtree(data_dir, ignore_errors=True)
    t0 = time.time()
    wl.warm(spark, inputs)
    warm_s = time.time() - t0
    res = wl.measure(spark, inputs)
    info = {
        "attempted": res.attempted,
        "failed": res.failed,
        "error_rate": error_rate(res.attempted, res.failed),
        "failures": res.failures[:20],
        "setup_s_each": setup_times,
        "warm_s": warm_s,
        "lag_samples": len(res.lags),
        "item_samples": len(res.item_s),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        **res.info,
    }
    if ctx.traced:
        metrics = layer_metrics(ctx, spark, res)
        if hasattr(wl, "scaling_baseline"):
            stop_session()
            spark = start_session("local[1]", ctx.nproc, ctx.work)
            metrics["streaming.scaling_eff_1_to_nproc"] = wl.scaling_baseline(
                spark, inputs, statistics.median(res.units_s), ctx.nproc
            )
    else:
        metrics = {"setup_s": statistics.median(setup_times) + warm_s, **res.end_to_end()}
    return info, metrics


if __name__ == "__main__":
    sys.exit(main())
