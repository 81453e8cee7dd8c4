"""End-to-end benchmark of the validation engine's spark-submit jobs.

    python3 perfbench/run.py --workload validate|near_dup|corpus_prep \
        --seed N --seconds S --trace 0|1

Run from the repository root.  One run is one fresh process: it generates
(or finds) the seeded inputs, starts a local[nproc] session with an explicit
6g driver heap, runs one cold pass of the workload's job, then whole warm
rounds until ``--seconds`` have gone by (at least one).  Cached frames and
persisted RDDs are cleared after every pass.  Every pass's outputs are
checked apart from the program (checks.py).  The last line of stdout is one
JSON object: correct, attempted, failed and the metrics -- the end-to-end
metrics with ``--trace 0``, the per-layer trace (trace.py) with
``--trace 1``.  See README.md for what each metric is.
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
import threading
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "6g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class PeakRss(threading.Thread):
    """High-water resident memory of every process this one started: the
    JVM's own high-water mark (VmHWM), plus for each Python worker the
    largest proportional set size (Pss) seen -- forked workers share the
    daemon's pages, which plain RSS would count once per worker.  Sampled
    every 0.2 s; a process that has exited keeps its last value."""

    def __init__(self):
        super().__init__(daemon=True)
        self.jvm_kb = 0
        self.py_kb: dict[int, int] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    java = f.read().split(b"\0")[0].endswith(b"java")
                name = "status" if java else "smaps_rollup"
                key = "VmHWM:" if java else "Pss:"
                with open(f"/proc/{pid}/{name}") as f:
                    kb = next(int(line.split()[1]) for line in f
                              if line.startswith(key))
            except (OSError, StopIteration):
                continue
            if java:
                self.jvm_kb = max(self.jvm_kb, kb)
            else:
                self.py_kb[pid] = max(self.py_kb.get(pid, 0), kb)

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> tuple[float, float, int]:
        """(total MB, JVM MB, number of Python processes seen)"""
        self._halt.set()
        self.join()
        self.sample()
        py = sum(self.py_kb.values())
        return (self.jvm_kb + py) / 1024.0, self.jvm_kb / 1024.0, len(self.py_kb)


def _configure_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # session.py's ParallelGC, with the heap fixed at its maximum: a
    # growing heap made the JVM's high-water RSS flip between two levels
    # ~30% apart from run to run
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_CONF_DIR", None)
    sys.path.insert(0, ROOT)


def _clear_caches(spark) -> float:
    """Drop every cached frame and persisted RDD; return the MB they held."""
    sc = spark.sparkContext
    held = sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo())
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return held / 1e6


def _stop_session(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers
    (the workers outlive the JVM by a moment, reparented)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    started = [proc.pid] + _descendants(proc.pid)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # a run cut mid-call leaves the gateway unusable
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", default=None,
                    help="copy the last pass's outputs here (selftest.py "
                         "corrupts such a copy to show the checks reject it)")
    args = ap.parse_args(argv)
    # a terminated run unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if not (os.path.isdir(os.path.join(ROOT, "jobs")) and os.path.isdir(
            os.path.join(ROOT, "audio_quality_checker_spark"))):
        print(f"program not found next to {HERE}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2

    runs = os.path.join(WORK, "runs")
    for stale in os.listdir(runs) if os.path.isdir(runs) else ():
        if not os.path.exists(f"/proc/{stale}"):  # left by a killed run
            shutil.rmtree(os.path.join(runs, stale), ignore_errors=True)
    run_dir = os.path.join(runs, f"{os.getpid()}")
    _configure_env(run_dir)

    from inputs import ensure_inputs

    t_gen0 = time.perf_counter()
    inputs = ensure_inputs(WORK, wl.inputs, args.seed)
    gen_s = time.perf_counter() - t_gen0

    tracer = None
    if args.trace:
        import trace as layer_trace

        tracer = layer_trace.Tracer(run_dir, os.path.join(
            WORK, "traces", f"{wl.name}-{args.seed}.jsonl"))
    from audio_quality_checker_spark.session import get_spark

    t_jvm0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", cores=_cores(),
                      extra_conf=tracer.spark_conf() if tracer else None)
    jvm_start_s = time.perf_counter() - t_jvm0
    rss = PeakRss()
    rss.start()
    setup_s = time.perf_counter() - T_START - gen_s

    attempted = failed = 0
    correct = True
    times: dict[int, float] = {}   # pass -> seconds, passes that finished
    retained: list[float] = []
    check_s: list[float] = []

    def one_round(k: int) -> None:
        nonlocal attempted, failed, correct
        out = os.path.join(run_dir, "out", f"pass{k}")
        attempted += 1
        label = "cold" if k == 0 else f"warm{k}"
        if tracer:
            tracer.begin_pass(spark, label)
        try:
            t0 = time.perf_counter()
            stdout = wl.run(ROOT, inputs, out, _cores())
            times[k] = time.perf_counter() - t0
        except Exception:
            failed += 1
            traceback.print_exc()
            stdout = None
        finally:
            if tracer:
                tracer.end_pass(spark, label)
        retained.append(_clear_caches(spark))
        if stdout is None:
            return
        t1 = time.perf_counter()
        try:
            results = wl.check(inputs, out, args.seed, stdout)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            return
        check_s.append(time.perf_counter() - t1)
        for name, ok, detail in results:
            attempted += 1
            if not ok:
                correct = False
                print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        if args.keep:
            shutil.rmtree(args.keep, ignore_errors=True)
            shutil.copytree(out, os.path.join(args.keep, "out"))
            with open(os.path.join(args.keep, "meta.json"), "w") as f:
                json.dump({"workload": wl.name, "inputs": inputs,
                           "seed": args.seed, "stdout": stdout}, f)
        shutil.rmtree(out, ignore_errors=True)

    try:
        if tracer:
            tracer.install(spark, ROOT)
        one_round(0)
        t_warm0 = time.perf_counter()
        k = 1
        while k == 1 or time.perf_counter() - t_warm0 < args.seconds:
            one_round(k)
            k += 1
    finally:  # on every way out, so that no JVM or Python worker outlives us
        peak_rss_mb, jvm_mb, n_py = rss.stop()
        t_stop = time.perf_counter()
        _stop_session(spark)
    layer = None
    if tracer:
        layer = tracer.metrics(wl.name, jvm_start_s, retained)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"# generate {gen_s:.1f}s, setup {setup_s:.1f}s, passes "
          f"{', '.join(f'{t:.1f}' for t in times.values())}s, checks "
          f"{', '.join(f'{t:.1f}' for t in check_s)}s, stop "
          f"{time.perf_counter() - t_stop:.1f}s; peak rss {peak_rss_mb:.0f} MB "
          f"(JVM {jvm_mb:.0f} MB, {n_py} Python processes)", file=sys.stderr)

    with open(os.path.join(inputs, "truth.json")) as f:
        n_docs = json.load(f)["n_docs"]
    warm = [t for k, t in times.items() if k > 0]
    if 0 not in times or not warm:
        print("the cold pass or every warm pass failed", file=sys.stderr)
        return 1
    cold_s, wall_s = times[0], statistics.median(warm)
    if layer is not None:
        metrics = layer
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_s": (cold_s, "s"),
            "wall_s": (wall_s, "s"),
            "docs_per_s": (n_docs / wall_s, "docs/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
