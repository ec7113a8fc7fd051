"""Benchmark entry point.

    python3 perfbench/run.py --workload <backfill|daily|live|curate>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from
the seed, starts a local[4] Spark session, runs ops for ``--seconds``
(at least one; the first is the process's first, as for a submitted
batch job), checks every op's outputs and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
ops and reports the per-layer metrics (see perfbench/README.md).  Everything the run writes lives under
``.bench_work/`` in the repository root; the span log of a traced run
is kept at ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CORES = 4


class MemSampler:
    """Peak summed PSS of this process and the Python workers it starts
    (through the Spark driver JVM), sampled from /proc.  PSS counts each
    shared page once, so forked workers do not double the total.  The
    JVM is left out: its resident set follows when the collector ran and
    how far it grew the heap, so the JVM's share is its live heap, read
    by ``live_heap_mb`` at fixed points of the run."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.period_s)

    @staticmethod
    def _proc_table() -> tuple[dict[int, int], dict[int, int], dict[int, bytes]]:
        """pid -> parent pid, virtual size and command, from /proc/<pid>/stat."""
        parent: dict[int, int] = {}
        vsize: dict[int, int] = {}
        comm: dict[int, bytes] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    head, tail = fh.read().rsplit(b")", 1)
                fields = tail.split()
                pid = int(d)
                parent[pid], vsize[pid] = int(fields[1]), int(fields[20])
                comm[pid] = head.split(b"(", 1)[1]
            except (OSError, IndexError, ValueError):
                continue
        return parent, vsize, comm

    @classmethod
    def descendants(cls, parent: dict[int, int] | None = None) -> set[int]:
        parent = parent if parent is not None else cls._proc_table()[0]
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return tree - {os.getpid()}

    @classmethod
    def _tree_kb(cls) -> int:
        parent, vsize, comm = cls._proc_table()
        total = 0
        for pid in cls.descendants(parent) | {os.getpid()}:
            # a child spawned with a shared address space (posix_spawn's
            # vfork, before exec) reports its parent's pages as its own
            if vsize.get(pid) == vsize.get(parent.get(pid)):
                continue
            if comm.get(pid) == b"java":
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total


def live_heap_mb(spark) -> float:
    """The driver JVM's heap in use after a full collection: the data the
    run holds in the heap (cached and persisted blocks, broadcasts, the
    status store), without the garbage a sample of the used heap would
    count depending on when the collector last ran.  Python drops its
    handles first, and a second collection follows the one that lets
    Spark's context cleaner remove the blocks of frames nothing holds."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def start_session(work: Path, cores: int):
    from logtrics_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        # the library's own heap setting (spark.driver.memory) is kept
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage/execution of a run for the trace harvest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = MemSampler.descendants()
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    from perfbench.trace import Tracer, harvest
    from perfbench.workloads import WORKLOADS, CheckFailed
    from perfbench import layers

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    mem = MemSampler()
    mem.start()
    spark = None
    wl = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, args.cores)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t = time.perf_counter()
        wl.gen_inputs()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        t_warm = time.perf_counter()
        wl.warm_up()
        t_end = time.perf_counter()
        heap_mb = [live_heap_mb(spark)]
        setup_s = session_s + gen_s + (t_end - t)
        print(
            f"setup: session {session_s:.2f}s inputs {gen_s:.2f}s "
            f"prepare {t_warm - t:.2f}s warm-up {t_end - t_warm:.2f}s",
            file=sys.stderr,
        )

        if args.trace:
            tracer.install()
        results: dict[int, dict] = {}
        failed: set[int] = set()
        traced_ops: list[int] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            traced = bool(args.trace)
            tracer.enabled, tracer.op = traced, i
            try:
                res = wl.op(i)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc()
                failed.add(i)
                res = None
            finally:
                tracer.enabled, tracer.op = False, None
            heap_mb.append(live_heap_mb(spark))
            if res is not None:
                results[i] = res
                if traced:
                    traced_ops.append(i)
                t = time.perf_counter()
                try:
                    wl.check(i, res, traced)
                except CheckFailed as e:
                    print(f"op {i}: check failed: {e}", file=sys.stderr)
                    failed.add(i)
                except Exception:  # noqa: BLE001 — a check that cannot run fails its op
                    traceback.print_exc()
                    failed.add(i)
                print(f"op {i}: checked in {time.perf_counter() - t:.2f}s", file=sys.stderr)
            i += 1
            if time.perf_counter() >= deadline:
                break
        t = time.perf_counter()
        try:
            bad = wl.finish(results)
        except Exception:  # noqa: BLE001 — a final check that cannot run fails the run
            traceback.print_exc()
            bad = {-1}
        correct = -1 not in bad
        print(f"final check {time.perf_counter() - t:.2f}s", file=sys.stderr)
        failed |= {b for b in bad if b >= 0}
        attempted = i
        ok = {k: v for k, v in results.items() if k not in failed}
        py_mb = mem.stop()
        peak_mem_mb = max(heap_mb) + py_mb
        print(f"memory: live heap {[round(h) for h in heap_mb]} MB, Python peak {py_mb:.0f} MB", file=sys.stderr)

        if args.trace:
            tracer.uninstall()
            h = harvest(tracer)
            traces = ROOT / ".bench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(traces / f"{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
            metrics = layers.per_layer(tracer, h, results, traced_ops)
        else:
            untraced = list(ok.values())
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_s": (median([r["latency_s"] for r in untraced]), "s"),
                "work_per_s": (median([r["work"] / r["busy_s"] for r in untraced]), "1/s"),
                "peak_mem_mb": (peak_mem_mb, "MB"),
            }
        for k, v in results.items():
            print(
                f"op {k}: {json.dumps({a: b for a, b in v.items() if isinstance(b, (int, float))})}",
                file=sys.stderr,
            )
        return {
            "correct": bool(correct and not failed),
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        mem.stop()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "daily", "live", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # the single-thread reference run only; the gated runs use 4 cores
    ap.add_argument("--cores", type=int, default=CORES)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the benchmark and Spark's Python workers import from the checkout
    sys.path.insert(0, str(ROOT))
    # fails in a tree without the library: no result is printed
    import logtrics_spark

    if Path(logtrics_spark.__file__).resolve().parents[1] != ROOT:
        raise SystemExit(f"logtrics_spark imported from outside {ROOT}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    tmp = ROOT / ".bench_work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None

    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
