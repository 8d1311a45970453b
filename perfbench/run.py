"""geetiles_spark benchmark: seeded workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload geo_dataset --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client on ``local[<cores>]``.  Set-up
(session start plus one warm-up iteration on the cold JVM) is measured, then
iterations run until the next one would overrun ``--seconds`` (at least
one).  Times are CPU seconds of the driver, its JVM and the Python workers,
without the JVM's JIT compiler threads; wall times and steal go to standard
error.  The warm-up's output gets independent checks and every timed
iteration must reproduce its digest.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  A per-metric table and, with ``--trace 1``,
the per-layer self times go to standard error.

With ``--trace 1`` the run makes one untraced iteration, then one traced
iteration that calls each layer on its own: the Python call that returns a
DataFrame (``call_s``) and, separately, forcing that result to a noop sink
on cached inputs (``exec_s``), each under its own Spark job group whose
jobs, shuffle and spill are read back from the status store.  Spans are
written to ``.bench_work/traces/``.

Inputs are generated from ``--seed`` and cached in ``.bench_cache/``;
scratch tables, Spark local dirs and temp files live in ``.bench_work/``.
Both sit in the checkout root and are git-ignored.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

# the workloads and every metric's name, unit and direction are declared
# once, in BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = kids if kids is not None else _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, fields: slice) -> int:
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


class CpuClock:
    """CPU seconds (user + system) of the driver process, its JVM and the
    JVM's Python workers, exited workers included.  The JVM's JIT compiler
    threads (warm-up, not engine work) and the thread ``skip_tid`` (the
    benchmark's own sampler) are left out."""

    def __init__(self, skip_tid: int | None = None):
        self.skip_tid = skip_tid

    def read(self) -> tuple[dict[str, int], dict[tuple[int, int], tuple[str, int]]]:
        """(ticks per part with the left-out threads, {(pid, tid): (part,
        ticks)} of the left-out threads)."""
        me = os.getpid()
        kids = _children()
        jvms = set(kids.get(me, []))
        ticks = {"driver": 0, "jvm": 0, "workers": 0}
        left_out = {}
        for pid in [me] + descendants(me, kids):
            part = "driver" if pid == me else "jvm" if pid in jvms else "workers"
            try:
                tids = os.listdir(f"/proc/{pid}/task")
                own = _stat_ticks(f"/proc/{pid}/stat", slice(11, 13))
                reaped = _stat_ticks(f"/proc/{pid}/stat", slice(13, 15))
            except OSError:  # the process ended meanwhile
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        comm = f.read()
                    if comm.startswith(_JIT_THREADS) or int(tid) == self.skip_tid:
                        left_out[pid, int(tid)] = (
                            part, _stat_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
                        )
                except OSError:  # the thread ended meanwhile (the JVM's
                    continue  # pool threads come and go)
            ticks[part] += own
            # a process's reaped children: the JVM's are exited Python workers
            ticks["workers" if part != "driver" else "jvm"] += reaped
        return ticks, left_out

    @staticmethod
    def seconds(a, b) -> dict[str, float]:
        """CPU seconds per part between readings ``a`` and ``b``, without the
        left-out threads.  A left-out thread that ended in between keeps its
        time in its process's total, so its ticks at ``a`` are taken off too
        (only what it used in between stays counted)."""
        (ta, la), (tb, lb) = a, b
        out = {}
        for part in ta:
            d = tb[part] - ta[part]
            d -= sum(t for k, (p, t) in lb.items() if p == part)
            d += sum(t for k, (p, t) in la.items() if p == part and k in lb)
            out[part] = d / _TICK
        return out

    @staticmethod
    def left_out_seconds(a, b) -> float:
        """CPU seconds of the left-out threads between ``a`` and ``b``."""
        total = sum(b[0].values()) - sum(a[0].values())
        return total / _TICK - sum(CpuClock.seconds(a, b).values())


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Summed RSS of this process's descendants (the driver JVM and its
    Python workers), sampled from /proc every 100 ms.  ``take()`` returns
    the peak since the previous ``take()``, so each iteration gets its own
    peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self._peak_kb = 0
        self._workers_kb = 0  # the Python workers' share of that peak
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()
        self._started = threading.Event()
        self.tid: int | None = None

    def start(self) -> None:
        super().start()
        self._started.wait()  # so that ``tid`` is set

    def run(self):
        self.tid = threading.get_native_id()
        self._started.set()
        me = os.getpid()
        while not self._stop_evt.wait(0.1):
            kids = _children()
            rss = {p: _rss_kb(p) for p in descendants(me, kids)}
            total = sum(rss.values())
            jvm = sum(rss.get(p, 0) for p in kids.get(me, []))
            with self._lock:
                if total > self._peak_kb:
                    self._peak_kb, self._workers_kb = total, total - jvm

    def take(self) -> tuple[float, float]:
        """(peak MB, the workers' MB at that peak) since the last take."""
        with self._lock:
            out = (self._peak_kb / 1024.0, self._workers_kb / 1024.0)
            self._peak_kb = self._workers_kb = 0
        return out

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# ------------------------------------------------------------------ layers


class Layer:
    """Times each layer call of a traced iteration and collects its
    counters into per-layer metrics."""

    def __init__(self, counters, tracer):
        self.c = counters
        self.tracer = tracer
        self.metrics: dict[str, float] = {}
        self.counters: dict = {}
        self.cached_rows: dict[str, int] = {}

    def record(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def _counts(self, name: str, gids: list[str]) -> None:
        from counters import GroupCounters

        total = GroupCounters()
        for g in gids:
            total.add(self.c.read(g))
        self.counters[name] = total
        self.record(f"{name}.jobs", total.jobs)
        self.record(f"{name}.shuffle_mb", total.shuffle_mb)
        self.record(f"{name}.spill_mb", total.spill_mb)

    def call(self, name: str, fn, persist: bool = True):
        """``call_s``: the call that returns the DataFrame; ``exec_s``: the
        DataFrame forced to a noop sink.  With ``persist`` the result is
        cached by that pass, so the next layer reads cached inputs."""
        from geetiles_spark import cache

        with self.tracer.span(f"{name}.call") as s1, self.c.group(f"{name}.call") as g1:
            df = fn()
        with self.tracer.span(f"{name}.exec") as s2, self.c.group(f"{name}.exec") as g2:
            if persist:
                df = cache.track(df)
            df.write.format("noop").mode("overwrite").save()
        self.record(f"{name}.call_s", s1.end - s1.start)
        self.record(f"{name}.exec_s", s2.end - s2.start)
        self._counts(name, [g1, g2])
        self.cached_rows[name] = df.count()
        return df

    def write(self, name: str, fn) -> None:
        with self.tracer.span(f"{name}.write") as s, self.c.group(f"{name}.write") as g:
            fn()
        self.record(f"{name}.write_s", s.end - s.start)
        self._counts(name, [g])

    def kernel(self, name: str, n: int, scale: float, fn) -> None:
        """Time a driver-side kernel call per item (repeated to >= 0.2 s)."""
        reps = 0
        with self.tracer.span(name) as s:
            while True:
                fn()
                reps += 1
                if time.perf_counter() - s.start >= 0.2:
                    break
        self.record(name, (time.perf_counter() - s.start) / reps / max(n, 1) * scale)

    def catalog_stats(self, catalog, tables) -> None:
        import glob

        import pyarrow.parquet as pq

        files, size, rows = 0, 0, 0
        for t in tables:
            for f in glob.glob(os.path.join(catalog.snapshot_path(t), "**", "*.parquet"), recursive=True):
                files += 1
                size += os.path.getsize(f)
                rows += pq.ParquetFile(f).metadata.num_rows
        self.record("catalog.files", files)
        self.record("catalog.bytes_per_row", size / max(rows, 1))


# --------------------------------------------------------------------- run


def _environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # compiler threads stay alive, so their CPU can be left out exactly
    # (an exited thread's time stays in its process's total)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    # the console progress bar only clutters standard error
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker it
    started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):  # stragglers past the deadline
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        try:
            os.waitpid(-1, os.WNOHANG)  # reap our own children
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(ROOT, ".bench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        import geetiles_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the engine is not importable from {ROOT}: {e}")
    import inputs
    from counters import Counters
    from spans import Tracer

    from geetiles_spark.session import get_spark

    if name == "geo_dataset":
        from geo_dataset import GeoDataset as Workload
    else:
        from corpus_dedup import CorpusDedup as Workload

    inp = inputs.cached(name, seed)
    sampler = RssSampler()
    sampler.start()
    clock = CpuClock(sampler.tid)
    cpu_start = clock.read()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    tracer = Tracer()
    counters = Counters(spark)
    attempted = failed = 0
    problems: list[str] = []
    metrics: dict[str, float] = {}
    try:
        t1 = time.perf_counter()
        wl = Workload(spark, inp, work)
        # the warm-up is one full iteration: it starts the Python workers
        # and compiles the plan shapes the timed iterations use
        reference = wl.iteration()
        warm_s = time.perf_counter() - t1
        cpu_warm = clock.read()
        setup_cpu = sum(clock.seconds(cpu_start, cpu_warm).values())
        setup_jit = clock.left_out_seconds(cpu_start, cpu_warm)
        peaks = [sampler.take()]
        # the warm-up's output gets the independent checks, and every timed
        # iteration must reproduce its digest
        attempted += 1
        fails = wl.check()
        if fails:
            failed += 1
            problems += fails

        times, cpus, steals, shuffles, jits = [], [], [], [], []
        cpu0 = cpu_times()
        window0 = time.perf_counter()
        while not times or (
            not trace and time.perf_counter() - window0 + statistics.median(times) <= seconds
        ):
            attempted += 1
            with counters.group("iteration") as gid:
                t, c, st = time.perf_counter(), clock.read(), cpu_times()
                try:
                    digest = wl.iteration()
                except Exception as e:  # a failed operation counts, the run goes on
                    failed += 1
                    problems.append(f"iteration raised {type(e).__name__}: {e}")
                    if failed >= 3:
                        break
                    continue
                times.append(time.perf_counter() - t)
                c2 = clock.read()
                cpus.append(clock.seconds(c, c2))
                jits.append(clock.left_out_seconds(c, c2))
                steals.append(steal_pct(st, cpu_times()))
            peaks.append(sampler.take())
            shuffles.append(counters.read(gid, sql=False).shuffle_mb)
            if digest != reference:
                failed += 1
                problems.append(f"iteration {len(times)} output differs from the warm-up iteration's")
        steal = steal_pct(cpu0, cpu_times())
        if not times:
            raise SystemExit("perfbench: no iteration completed: " + "; ".join(problems))

        if not trace:
            metrics = {
                "setup_s": setup_cpu,
                "run_cpu_s": statistics.median(sum(c.values()) for c in cpus),
                "shuffle_mb": statistics.median(shuffles),
            }
        else:
            layer = Layer(counters, tracer)
            tracer.run_id = f"{name}-{seed}-traced"
            with tracer.span("iteration") as it:
                wl.traced_iteration(layer)
            tracer.run_id = f"{name}-{seed}-extra"
            n, fails = wl.traced_extra(layer)
            attempted += n
            if fails:
                failed += len(fails)
                problems += fails
            layer.record("session.start_s", start_s)
            layer.record("session.warm_s", warm_s)
            layer.record("session.cpu_s", setup_cpu)
            layer.record("iteration.wall_s", times[0])
            layer.record("iteration.cpu_s", sum(cpus[0].values()))
            for part, v in cpus[0].items():
                layer.record(f"iteration.cpu_{part}_s", v)
            layer.record("iteration.peak_rss_mb", peaks[1][0])
            layer.record("iteration.workers_rss_mb", peaks[1][1])
            layer.record("trace.total_s", it.end - it.start)
            layer.record("trace.overhead_ratio", (it.end - it.start) / times[0])
            metrics = dict(layer.metrics)
            _report_self_times(tracer)
            tdir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(tdir, f"{name}-{seed}.jsonl"))
    finally:
        _stop_spark(spark)
        sampler.stop()
    out = result_metrics(metrics, trace)
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(
        f"perfbench: {name} seed={seed} cores={cores()} steal_pct={steal:.1f} "
        f"setup_wall_s={start_s:.2f}+{warm_s:.2f} setup_cpu_s={setup_cpu:.2f} setup_jit_cpu_s={setup_jit:.2f} "
        f"iteration_s={[round(t, 2) for t in times]} iteration_jit_cpu_s={[round(t, 2) for t in jits]} "
        f"iteration_steal_pct={[round(x, 1) for x in steals]} "
        f"iteration_cpu_s(driver/jvm/workers)={['/'.join(f'{v:.2f}' for v in c.values()) for c in cpus]} "
        f"peak_rss_mb(workers)={[f'{p:.0f}({w:.0f})' for p, w in peaks]}",
        file=sys.stderr,
    )
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def result_metrics(metrics: dict[str, float], trace: bool) -> dict:
    """Every declared metric, in declared order, as {"value", "unit"}.  A
    per-layer metric of a layer the workload does not call reads 0.  A
    recorded name that is not declared raises KeyError."""
    units = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"undeclared metrics: {sorted(unknown)}")
    return {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()}


def _report_self_times(tracer) -> None:
    print("perfbench: layer self time (s)", file=sys.stderr)
    for k, v in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
        print(f"  {k:40s} {v:8.3f}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        results = {}
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
            results[w] = json.loads(p.stdout.strip().splitlines()[-1])
            for n, m in results[w]["metrics"].items():
                print(f"{w:14s} {n:44s} {m['value']:14.4f} {m['unit']}")
        print(json.dumps(results))
        return 0 if all(r["correct"] for r in results.values()) else 1
    res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    for n, m in res["metrics"].items():
        print(f"  {n:44s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
