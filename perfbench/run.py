"""Benchmark of the served engine: the knn and dedup workloads.

    python3 perfbench/run.py --workload knn --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one client, closed loop: the
session runs on ``local[<cores>]`` and the next job starts when the
previous one ends. Inputs are generated from ``--seed`` under
``perfbench/.work``; every timed job's output is checked against a
reference computed outside Spark.

``--trace 0`` prints the end-to-end metrics of one workload: set-up
time, the cold first job, the median warm job over ``--seconds``, work
per second and the high-water RSS of the Python processes (driver and
workers). ``--trace 1`` runs every workload once more with spans around
the layers of each part and prints the per-layer table (``spans.py``).
The last stdout line is the JSON result; a per-run detail file is
written to ``perfbench/.work/detail``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, ROOT)

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench_env() -> dict[str, str]:
    """Environment that keeps every file a run writes inside the checkout
    and puts the repository on the Python workers' path (``mapInArrow``
    kernels import the engine there)."""
    tmp = os.path.join(WORK, "tmp")
    return {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "graft-scratch"),
        "TMPDIR": tmp,
        # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int) -> tuple[str, int, int]:
    """(command name, RSS bytes, high-water RSS bytes) of a live process."""
    fields = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            key, _, value = line.partition(":")
            fields[key] = value.strip()
    kib = lambda k: int(fields.get(k, "0 kB").split()[0]) * 1024  # noqa: E731
    return fields["Name"], kib("VmRSS"), kib("VmHWM")


class TreeRss:
    """Samples this process and its descendants (the JVM and the Python
    workers) on a background thread. ``peak`` is the high-water mark of
    their summed RSS; ``hwm`` keeps each process's own high-water RSS as
    the kernel counts it, by pid, with its command name."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = 0
            for pid in [me, *descendants(me)]:
                try:
                    name, rss, hwm = _status(pid)
                except (OSError, KeyError, ValueError):
                    continue  # exited between listing and reading
                total += rss
                self.hwm[pid] = (name, max(hwm, self.hwm.get(pid, ("", 0))[1]))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def hwm_mb(self, python: bool) -> float:
        """Summed high-water RSS of the Python processes, or of the others."""
        return sum(b for n, b in self.hwm.values() if n.startswith("python") == python) / 2**20

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process started under this one has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # the next session launches afresh
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline + timeout:
            time.sleep(0.1)


# ------------------------------------------------------------------- runs


def start_engine():
    """The engine's start-up: import, then ``session.get_spark``."""
    from knn_with_mapreduce_cuda_spark import registry, session

    registry.queries()
    return session.get_spark()


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tail_percentile(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (none
    below eleven samples), with the sample count."""
    n = len(samples)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    return {"percentile": 100.0 * (n - 10) / n, "value": sorted(samples)[n - 11], "samples": n}


class Gate:
    """Runs parts of jobs, keeps each part's output, and checks them all
    after timing ends. A job fails when any of its parts raised or gave a
    wrong answer."""

    def __init__(self):
        self.outputs: list[tuple[object, object, object, object]] = []
        self.jobs: set = set()
        self.errors: dict[object, list[str]] = {}

    def run(self, part, spark, inp, job_id, job=None):
        """Run ``part.job`` (or ``job``) as part of job ``job_id``; returns
        its seconds, or None when it raised."""
        self.jobs.add(job_id)
        try:
            dt, out = timed(job or part.job, spark, inp)
        except Exception:  # a part that raises fails its job; the run goes on
            self.errors.setdefault(job_id, []).append(
                f"{part.name}: {traceback.format_exc(limit=8)}"[-4000:]
            )
            return None
        self.outputs.append((job_id, part, inp, part.snapshot(inp, out)))
        return dt

    def check(self) -> None:
        """Check every kept output against its part's reference, computed
        once per input."""
        refs = {}
        for job_id, part, inp, out in self.outputs:
            if inp.dir not in refs:
                refs[inp.dir] = part.reference(inp)
            bad = part.check(inp, refs[inp.dir], out)
            if bad:
                self.errors.setdefault(job_id, []).append(
                    f"{part.name}: wrong answer: {', '.join(bad[:10])}"
                )

    @property
    def attempted(self) -> int:
        return len(self.jobs)

    @property
    def failed(self) -> int:
        return len(self.errors)


def run_job(parts, spark, inputs, gate: Gate, job_id) -> list[float] | None:
    """One job: every part in order. Returns the part seconds, or None when
    a part raised."""
    times = [gate.run(p, spark, inputs[p.name], job_id) for p in parts]
    return None if None in times else times


def make_inputs(workload: str, seed: int) -> dict:
    return {
        p.name: p.inputs(fresh_dir(os.path.join(WORK, workload, p.name)), seed)
        for p in WORKLOADS[workload]
    }


def write_detail(name: str, detail: dict) -> None:
    d = os.path.join(WORK, "detail")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{name}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)


def end_to_end(workload: str, seed: int, seconds: float) -> dict:
    parts = WORKLOADS[workload]
    inputs = make_inputs(workload, seed)
    gate = Gate()
    with TreeRss() as rss:
        setup_s, spark = timed(start_engine)
        try:
            cold = run_job(parts, spark, inputs, gate, 0)
            warm = []
            start = time.perf_counter()
            while True:  # at least one warm job, then until `seconds` have passed
                times = run_job(parts, spark, inputs, gate, len(gate.jobs))
                if times is not None:
                    warm.append(times)
                if time.perf_counter() - start >= seconds:
                    break
        finally:
            stop_spark(spark)
    gate.check()
    if cold is None or not warm:
        raise RuntimeError(f"no successful timed job: {gate.errors}")
    job_s = statistics.median(sum(t) for t in warm)
    work = sum(p.work(inputs[p.name]) for p in parts)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_job_s": (sum(cold), "s"),
        "job_s": (job_s, "s"),
        "items_per_s": (work / job_s, "1/s"),
        "py_peak_rss_mb": (rss.hwm_mb(python=True), "MB"),
    }
    write_detail(
        f"{workload}-seed{seed}-trace0",
        {
            "workload": workload,
            "seed": seed,
            "parts": [p.name for p in parts],
            "work": work,
            "cold_part_s": cold,
            "warm_part_s": warm,
            "tail": tail_percentile([sum(t) for t in warm]),
            "failed_frac": gate.failed / gate.attempted,
            "errors": gate.errors,
            "tree_peak_rss_mb": rss.peak / 2**20,
            "jvm_peak_rss_mb": rss.hwm_mb(python=False),
            "metrics": metrics,
        },
    )
    return {"attempted": gate.attempted, "failed": gate.failed, "metrics": metrics}


def trace_part(part, spark, inp, tr: Tracer, gate: Gate, cold_s: float) -> dict:
    """The part's traced job, then a warm untraced one; returns the part's
    per-layer metrics. The untraced job runs second, so it is the warmer
    of the two and the overhead is not understated."""
    w = part.name
    layers = {}

    def traced_job(spark, inp):
        with tr.span("job", w):
            out, found = part.traced_job(spark, inp, tr, w)
        layers.update(found)
        return out

    gate.run(part, spark, inp, f"{w}-traced", traced_job)
    warm = gate.run(part, spark, inp, f"{w}-untraced")
    tr.resolve()
    ids = [i for i, s in enumerate(tr.spans) if s.job == w]
    root = ids[0]
    scan = next(tr.spans[i] for i in ids if tr.spans[i].name == "tables.scan")
    job_s = tr.spans[root].seconds
    m = dict(layers)
    m[f"{w}.trace.job_s"] = (job_s, "s")
    m[f"{w}.trace.overhead_s"] = (job_s - warm, "s")
    m[f"{w}.trace.remainder_s"] = (tr.self_seconds(root), "s")
    m[f"{w}.spark.jobs"] = (sum(tr.spans[i].counts["jobs"] for i in ids), "count")
    m[f"{w}.spark.tasks"] = (sum(tr.spans[i].counts["tasks"] for i in ids), "count")
    m[f"{w}.tables.scan_s"] = (scan.seconds, "s")
    m[f"{w}.tables.scan_rows"] = (scan.counts["scan_rows"], "count")
    m[f"{w}.tables.scan_bytes"] = (scan.counts["scan_bytes"], "bytes")
    if w == "knn-join":
        m["gemm.worker_start_s"] = (cold_s - warm, "s")
    return m


def traced(seed: int) -> dict:
    """Every workload in a fixed order: one cold job, then per part the
    traced job and a warm untraced job. Returns the per-layer metrics of all
    parts, whichever workload was asked for."""
    inputs = {w: make_inputs(w, seed) for w in WORKLOADS}
    gate = Gate()
    m: dict[str, tuple[float, str]] = {}
    with TreeRss() as rss:
        setup_s, spark = timed(start_engine)
        try:
            tr = Tracer(spark)
            for w, parts in WORKLOADS.items():
                cold = run_job(parts, spark, inputs[w], gate, f"{w}-cold")
                for part, cold_s in zip(parts, cold):
                    m.update(trace_part(part, spark, inputs[w][part.name], tr, gate, cold_s))
            floor = [timed(lambda: spark.range(1).count())[0] for _ in range(5)]
        finally:
            stop_spark(spark)
    m["session.start_s"] = (setup_s, "s")
    m["session.job_floor_s"] = (statistics.median(floor), "s")
    m["mem.py_peak_rss_mb"] = (rss.hwm_mb(python=True), "MB")
    m["mem.jvm_peak_rss_mb"] = (rss.hwm_mb(python=False), "MB")
    m["mem.tree_peak_rss_mb"] = (rss.peak / 2**20, "MB")
    parts = [p.name for ps in WORKLOADS.values() for p in ps]
    m["trace.overhead_s"] = (sum(m[f"{w}.trace.overhead_s"][0] for w in parts), "s")
    gate.check()
    write_detail(
        f"trace-seed{seed}",
        {"seed": seed, "errors": gate.errors, "metrics": m, "spans": tr.table()},
    )
    return {"attempted": gate.attempted, "failed": gate.failed, "metrics": m}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    os.environ.update(bench_env())
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if args.trace:
        res = traced(args.seed)
    else:
        res = end_to_end(args.workload, args.seed, args.seconds)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
