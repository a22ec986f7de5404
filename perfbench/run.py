"""Benchmark entry point.

  python3 perfbench/run.py --workload {kg_build,queries} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one Spark session at
local[nproc], one job in flight at a time (closed loop). After set-up and
warm-up it repeats timed reps while the next one should still end inside
``--seconds``, checks every rep's output, and prints one JSON object as its
last line:

- ``--trace 0``: end-to-end metrics ``wall_s`` (median timed rep),
  ``setup_s`` (process start to end of warm-up, minus input generation
  and the oracle) and ``peak_pss_mb`` (summed PSS of this process and its
  descendants: the JVM and the Python workers).
- ``--trace 1``: per-layer metrics from one untraced and one traced rep
  (spans around the calls into each layer, Spark job groups and the
  event log); for ``kg_build`` the traced rep is a build and a resume of
  it. Layers the workload does not run read 0.

See perfbench/README.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The inputs are small, so the heap is 2 GB, not get_spark's 8 GB default.
# It is committed and touched at JVM start (-Xms, AlwaysPreTouch): a lazily
# touched heap made peak_pss_mb follow G1's sizing decisions, ±10% from run
# to run, and page faults inside the timed reps.
DRIVER_MEMORY = "2g"
WORKLOADS = {"kg_build": ("perfbench.kg", "KgBuild"), "queries": ("perfbench.queries", "Queries")}


# -- memory -------------------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_pss_mb(pid: int) -> float:
    total_kb = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PssSampler(threading.Thread):
    """Peak of the process tree's summed PSS, sampled every 0.25 s. PSS
    splits shared pages among the processes sharing them, so forked
    Python workers are not counted once per fork as RSS would be."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_pss_mb(os.getpid()))
            self._stop_evt.wait(0.25)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- processes ----------------------------------------------------------------
def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that a process whose parent ends, such as
    the launcher spark-submit leaves under the JVM, stays ours to wait for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """End every process this run started and wait until each has ended.

    The JVM (spark-submit's java, a child of this process) exits when its
    stdin closes; the Python worker daemon and its forked workers exit when
    the JVM's pipes close. Whatever is still alive after ``grace_s`` is
    terminated, then killed. As the subreaper, this process inherits every
    orphan and reaps it, so none is left behind as a zombie either."""
    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
    except Exception:
        traceback.print_exc()

    me = os.getpid()

    def left() -> list[int]:
        _reap()
        return [p for p in _descendants(me) if p != me]

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        if not left():
            return
        if sig is not None:
            for p in left():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while left() and time.monotonic() < deadline:
            time.sleep(0.05)
    if left():
        print(f"perfbench: processes {left()} did not end", file=sys.stderr)


# -- spark --------------------------------------------------------------------
def start_session(work: str, event_dir: str | None):
    from bionext_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    # java.io.tmpdir and -UsePerfData keep the JVM's scratch files inside
    # the run's work dir
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{event_dir}",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def leak_counters(spark) -> dict[str, float]:
    """Persistent RDDs and their storage after a rep, as the Spark UI's
    storage tab would list them."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    storage = sum(i.memSize() + i.diskSize() for i in infos)
    return {"persistent_rdds": jsc.getPersistentRDDs().size(), "storage_mb": storage / 1e6}


# -- one run ------------------------------------------------------------------
class Run:
    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.leaks: list[dict[str, float]] = []

    def rep(self, spark, timed: bool) -> float | None:
        """One rep, checked outside its timed window; None if it raised.
        A timed rep starts after a full JVM GC, so it does not pay for the
        garbage of the rep before it; cached data stays referenced and is
        not freed by it."""
        self.attempted += 1
        if timed:
            spark._jvm.System.gc()
        try:
            wall = self.wl.rep(spark)
            ok = self.wl.check()
        except Exception:
            traceback.print_exc()
            wall, ok = None, False
        self.failed += not ok
        if timed:
            self.leaks.append(leak_counters(spark))
            if wall is not None:
                self.walls.append(wall)
        return wall


def run(args, work: str) -> tuple[Run, dict, dict]:
    mod, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod), cls)(args.seed, work)
    r = Run(wl)
    detail: dict = {"workload": args.workload, "seed": args.seed}

    t0 = time.perf_counter()
    detail["input"] = wl.prepare()
    excluded = time.perf_counter() - t0

    t0 = time.perf_counter()
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = start_session(work, event_dir)
    layer = {"session.start_s": time.perf_counter() - t0}
    try:
        t0 = time.perf_counter()
        wl.load(spark)
        excluded += time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.side_data(spark)
        layer["side_data_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        for _ in range(wl.warmup_reps):
            r.rep(spark, timed=False)
        layer["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_START - excluded

        if not args.trace:
            # the first rep always runs; another starts only if a rep as
            # long as the last one would still end inside the window
            t0 = time.perf_counter()
            while True:
                t1 = time.perf_counter()
                r.rep(spark, timed=True)
                now = time.perf_counter()
                if now - t0 + (now - t1) > args.seconds:
                    break
            detail.update(walls=r.walls, leaks=r.leaks, setup_s=setup_s, excluded_s=excluded, **layer)
            if not r.walls:
                raise RuntimeError("no timed rep completed")
            return r, {"wall_s": statistics.median(r.walls), "setup_s": setup_s}, detail

        from perfbench.tracing import Tracer

        untraced = r.rep(spark, timed=True)
        tracer = Tracer()
        r.attempted += 1
        traced_wall, ok = wl.traced(spark, tracer)
        r.failed += not ok
        r.leaks.append(leak_counters(spark))
    finally:
        spark.stop()

    from bionext_spark.sparklog import iter_events

    metrics, groups = wl.layer_metrics(tracer, list(iter_events(event_dir)))
    rep = next(i for i, s in enumerate(tracer.spans) if s.name == "rep")
    rep_span = tracer.spans[rep]
    layer.update({
        "cache.persistent_rdds": r.leaks[-1]["persistent_rdds"],
        "cache.storage_mb": r.leaks[-1]["storage_mb"],
        "cache.rdds_per_traced_rep": r.leaks[-1]["persistent_rdds"] - r.leaks[-2]["persistent_rdds"],
        "total.gc_s": sum(g["gc_s"] for g in groups),
        "total.spill_mb": sum(g["spill_mb"] for g in groups),
        "total.jobs": sum(g["jobs"] for g in groups),
        "trace.overhead_s": traced_wall - untraced if untraced is not None else float("nan"),
        "trace.span_coverage": 1.0 - tracer.self_time(rep) / (rep_span.end - rep_span.start),
    })
    layer.update(metrics)
    tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json"))
    detail.update(leaks=r.leaks, untraced_wall_s=untraced, traced_wall_s=traced_wall)
    return r, layer, detail


def per_layer_names() -> list[str]:
    from perfbench import kg, queries

    return (
        ["session.start_s", "warmup_s", "side_data_s"]
        + ["cache.persistent_rdds", "cache.storage_mb", "cache.rdds_per_traced_rep"]
        + ["total.gc_s", "total.spill_mb", "total.jobs", "trace.overhead_s", "trace.span_coverage"]
        + kg.per_layer_names()
        + queries.per_layer_names()
    )


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_skew", "ratio"), ("_coverage", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bionext_spark", "pipeline.py")):
        print(f"perfbench: no bionext_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, "perfbench", "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    # SIGTERM ends the run through the clean-up below, like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    sampler = PssSampler()
    sampler.start()
    try:
        r, metrics, detail = run(args, work)
    finally:
        peak = sampler.stop()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        out = {n: {"value": metrics.get(n, 0.0), "unit": unit_of(n)} for n in per_layer_names()}
    else:
        metrics["peak_pss_mb"] = peak
        out = {n: {"value": metrics[n], "unit": unit_of(n)} for n in ("wall_s", "setup_s", "peak_pss_mb")}
    detail["total_s"] = time.perf_counter() - PROCESS_START
    print(json.dumps(detail))
    print(json.dumps({
        "correct": r.failed == 0 and r.attempted > 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
