"""Benchmark entry point: one workload, one seed, one timed section.

Run from the root of a nemo_spark checkout::

    python3 perfbench/run.py --workload kg_entities --seed 1 --seconds 4 --trace 0

The run generates its inputs from ``--seed`` and computes their expected
output in pure Python (untimed), starts a Spark session fitted to the host
and warms it up with one untimed repeat (``setup_s``), then repeats the
workload for ``--seconds`` seconds in a closed loop — one repeat at a time,
each checked against the expected output. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of the
traced repeats (untraced and traced repeats alternate, and
``trace.overhead_s`` is the difference of their median walls). Diagnostics
(host, versions, input sizes, steal ticks, every repeat's wall) go to
standard error and, with spans and per-round engine records of a traced
run, to ``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"  # input sizes are chosen to fit; the host is shared


def proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root_pid], {root_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree.extend(frontier)
    return tree


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it (forked Python workers share most of
    theirs with the daemon they fork from)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of the process tree on a thread, shared
    pages counted once (sum of PSS). ``peak`` is in bytes; ``peak_procs``
    names the processes at the peak with their share in MB."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self.peak_procs: list[tuple[int, str, float]] = []
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            sizes = {pid: pss_bytes(pid) for pid in proc_tree(os.getpid())}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.peak_procs = [(pid, proc_name(pid), round(b / (1 << 20), 1)) for pid, b in sizes.items()]
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return " ".join(f.read().decode(errors="replace").split("\0")[:3])[:80]
    except OSError:
        return "?"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def start_spark(workdir: str):
    from nemo_spark.session import get_spark

    cores = os.cpu_count() or 1
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.local.dir": os.path.join(workdir, "local"),
        # the whole heap resident from the start: peak RSS then measures the
        # Python processes and off-heap memory on top of a fixed heap,
        # instead of when the collector chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # a traced repeat reads its jobs back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    # PySpark's gateway handshake and its Python workers make temp files too
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timed_loop(seconds: float, once) -> list[tuple[float, bool]]:
    """Call ``once()`` (returns ok) back to back until ``seconds`` have
    passed; the repeat running at the deadline completes."""
    out = []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            ok = once()
        except Exception:  # a failed operation: count it, keep measuring
            traceback.print_exc()
            ok = False
        out.append((time.perf_counter() - t0, ok))
        if time.perf_counter() >= deadline:
            return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nemo_spark")):
        print(f"perfbench: no nemo_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    import spans as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(workdir, "data"))
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(workdir)
            session_s = time.perf_counter() - t0
            # warm-up: one untimed repeat, so the JIT, the Python workers
            # and the file caches are warm for the timed repeats
            null = tr.NullTracer()
            warm = timed_loop(0, lambda: wl.repeat(spark, null))
            setup_s = time.perf_counter() - T_PROCESS - prepare_s

            steal0 = steal_ticks()
            if args.trace:
                traced: list[dict] = []
                last: tr.Tracer | None = None

                def pair() -> bool:
                    nonlocal last
                    t = time.perf_counter()
                    ok = wl.repeat(spark, null)
                    untraced = time.perf_counter() - t
                    tracer = tr.Tracer(spark, f"pb{len(traced)}")
                    tracer.install()
                    try:
                        with tracer.span("bench", fn="repeat") as root:
                            ok = wl.repeat(spark, tracer) and ok
                            tracer.run_deferred()
                    finally:
                        tracer.uninstall()
                    tracer.collect()
                    m = tr.layer_metrics(tracer, session_s)
                    traced.append({"untraced_s": untraced, "traced_s": root.wall_s, "metrics": m})
                    last = tracer
                    return ok

                loop = timed_loop(args.seconds, pair)
            else:
                loop = timed_loop(args.seconds, lambda: wl.repeat(spark, null))
            steal = steal_ticks() - steal0
    finally:
        if spark is not None:
            versions = {
                "python": platform.python_version(),
                "spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            }
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    walls = [w for w, _ok in loop]
    attempted = len(warm) + len(loop)
    failed = sum(not ok for _w, ok in warm + loop)
    if args.trace:
        names = tr.metric_names()
        med = {n: statistics.median(t["metrics"][n] for t in traced) for n in names if n != tr.OVERHEAD}
        med[tr.OVERHEAD] = statistics.median(t["traced_s"] for t in traced) - statistics.median(
            t["untraced_s"] for t in traced
        )
        metrics = {n: {"value": med[n], "unit": tr.metric_unit(n)} for n in names}
    else:
        wall = statistics.median(walls)
        metrics = {
            "items_per_s": {"value": wl.items / wall, "unit": "items/s"},
            "wall_s": {"value": wall, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / (1 << 20), "unit": "MB"},
        }
    diag = {
        "workload": args.workload,
        "item": wl.item,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "driver_memory": DRIVER_MEMORY,
        "versions": versions,
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "items_per_repeat": wl.items,
        "prepare_s": prepare_s,
        "session_start_s": session_s,
        "steal_ticks_timed": steal,
        "clk_tck": os.sysconf("SC_CLK_TCK"),
        "warmup_walls_s": [w for w, _ok in warm],
        "repeat_walls_s": walls,
        "peak_rss_procs": rss.peak_procs,
    }
    if args.trace:
        diag["traced_repeats"] = [{k: v for k, v in t.items() if k != "metrics"} for t in traced]
        diag["spans"] = [dataclasses.asdict(s) for s in last.spans]
        diag["engine_rounds"] = last.round_table()
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"diagnostics": diag, "metrics": metrics}, f, indent=1)
    print(json.dumps({k: v for k, v in diag.items() if k not in ("spans", "engine_rounds")}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
