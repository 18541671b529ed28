"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 8 --trace 0

Builds (or reads from the cache) the seed's corpus and oracle digests,
sets up a ``local[nproc]`` session several times and keeps the median as
``setup_s``, then runs the workload's action untimed for ``WARM_S`` seconds (its
own warm-up) and repeats it until ``--seconds`` of timed work have run, checking every
action's output per document against the oracle outside the timing. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``).

Everything the run writes goes under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
SETUPS = 3                      # session set-ups per run; setup_s is their median
WARM_S = 6.0                    # untimed action time that warms the workload's plans
DRIVER_MEMORY = "1g"            # small heap: RSS plateaus early, host memory is shared


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK.
    Must run before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["WEBEXTRACT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts    # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        f"--driver-java-options '{java_opts}' pyspark-shell")


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of this process and its descendants
    (driver JVM, Python daemon and workers) while the block runs."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


# ----------------------------------------------------------------- session


def warmup_path(cpus: int) -> str:
    from webextract import fixtures

    path = os.path.join(WORK, "cache", f"warmup-{4 * cpus}-v{fixtures.CONTENT_VERSION}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        fixtures.write_pages_parquet(tmp, 4 * cpus)
        os.replace(tmp, path)
    return path


def setup_session(cpus: int, warm: str):
    """``pipeline.build_session`` plus a warm-up batch through
    ``pipeline.run_extract`` into a parquet sink that starts one Python
    worker per core."""
    from webextract import pipeline

    sink = os.path.join(WORK, "runs", f"warmup-{os.getpid()}")
    t0 = time.perf_counter()
    spark = pipeline.build_session(cpus=cpus, app="perfbench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(warm).repartition(cpus)
    pipeline.run_extract(pages).write.mode("overwrite").parquet(sink)
    wall = time.perf_counter() - t0
    shutil.rmtree(sink, ignore_errors=True)
    return spark, wall


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every
    process it started (the Python daemon and workers) have exited."""
    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    try:
        _stop_jvm(spark)
    finally:
        deadline = time.monotonic() + 30
        for pid in started:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------- runs


def measure(name: str, corp, seconds: float, cpus: int) -> dict:
    from perfbench import workloads

    rundir = os.path.join(WORK, "runs", f"{name}-{os.getpid()}")
    os.makedirs(rundir, exist_ok=True)
    warm = warmup_path(cpus)
    setups: list[float] = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s = setup_session(cpus, warm)
        setups.append(s)
    wl = workloads.CLASSES[name](name, corp, rundir, cpus)
    try:
        wl.prepare(spark)
        rates, peaks, stored, problems = [], [], [], []
        attempted = failed = 0
        timed = warmed = 0.0
        rep = 0
        # the first actions warm the workload's own plans: checked, not timed
        while timed < seconds or len(rates) < 2:
            warming = warmed < WARM_S
            with PeakRss() as rss:
                wall = wl.run_once(spark, rep)
            last = not warming and len(rates) >= 1 and timed + wall >= seconds
            f, probs = wl.verify(spark, rep, final=last)
            attempted += corp.n_docs
            failed += f
            problems += probs
            print(f"# rep {rep}: {corp.n_docs} docs in {wall:.3f} s = "
                  f"{corp.n_docs / wall:.1f} docs/s, peak rss {rss.peak / 2**20:.0f} MB, "
                  f"failed {f}{' (warm-up, not timed)' if warming else ''}", flush=True)
            if warming:
                warmed += wall
            else:
                timed += wall
                rates.append(corp.n_docs / wall)
                peaks.append(rss.peak / 2**20)
                stored.append(wl.stored_bytes(rep) / corp.n_docs)
            wl.cleanup(rep)
            rep += 1
    finally:
        shutdown(spark)
        shutil.rmtree(rundir, ignore_errors=True)
    for p in problems:
        print(f"# check failed: {p}", flush=True)
    print(f"# setups (s): {', '.join(f'{s:.3f}' for s in setups)}; "
          f"failed_frac {failed / attempted:.6f}", flush=True)
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": {"value": statistics.median(rates), "unit": "1/s"},
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(peaks), "unit": "MB"},
            "stored_bytes_per_doc": {"value": statistics.median(stored), "unit": "B"},
        },
    }


def main(argv=None) -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_env()
    os.chdir(WORK)          # stray relative writes land in the work dir too
    cpus = cpu_count()

    from perfbench import corpus

    kind, n = workloads.SPECS[args.workload]
    corp = corpus.load(WORK, REPO, kind, args.seed, n, cpus)
    print(f"# {args.workload} seed {args.seed}: {corp.n_docs} docs, "
          f"{corp.bytes} B input, oracle statuses {corp.statuses}, "
          f"cache build {corp.build_s:.2f} s, local[{cpus}]", flush=True)
    if args.trace:
        from perfbench import layers
        result = layers.traced_run(args.workload, args.seed, cpus, WORK, REPO)
    else:
        result = measure(args.workload, corp, args.seconds, cpus)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    try:
        import webextract  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
