"""Benchmark of the extraction engine: three workloads, end-to-end metrics
from an untraced run and per-layer metrics from a traced one.

Run from the root of a checkout::

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke    # every workload, one op on sf0.001

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record of the run (host, sizes,
every layer number). Spans and the record are also written under
``.perfbench/out/``. Everything the run writes stays inside the checkout.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# Metrics on the last line. Every workload reports each of them; the
# per-layer times (ms) of Spark's operators are in the full record only,
# because the streaming micro-batch runs its Python stage inside the
# foreachBatch write, where Spark attributes no operator metrics to it.
END_TO_END = {"setup_s": "s", "op_median_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "peak_rss_mb": "MB",
    "scan.files": "count", "scan.bytes": "bytes", "scan.rows": "count",
    "exchange.count": "count", "exchange.shuffle_bytes": "bytes",
    "ipc.bytes_sent": "bytes", "ipc.bytes_received": "bytes",
    "sql.executions": "count", "sql.jobs": "count", "sql.tasks": "count",
    "kernel.us_per_doc.html": "us", "kernel.us_per_doc.pdf": "us",
    "kernel.us_per_doc.image": "us", "kernel.us_per_doc.text": "us",
    "kernel.us_per_doc.error": "us",
    "rss.jvm_mb": "MB", "rss.python_mb": "MB",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RssSampler:
    """Peak resident memory of this process and all its descendants,
    sampled from /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_total = 0
        self.peak_jvm = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        jvm = python = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            if comm == "java":
                jvm += rss
            else:
                python += rss
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, python)
        self.peak_total = max(self.peak_total, jvm + python)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


class Context:
    """Everything one run shares: host-derived sizes, the session, the
    tracer and the set-up clock."""

    def __init__(self, args, work: str) -> None:
        from perfbench.spans import Tracer

        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.nproc = host_cores()
        self.tracer = Tracer(bool(args.trace))
        self.sf = 0.001 if args.smoke else 0.1
        # crawl input: replicas of the sf documents (4 x 6k captures at sf0.1)
        self.replicas = 1 if args.smoke else 4
        self.tick_captures = 60 if args.smoke else 2000
        self.max_ticks = 2 if args.smoke else 12
        self.smoke = args.smoke
        self.setup: dict[str, list[float]] = {}
        self.fixtures: dict[str, list[float]] = {}
        self.spark = None
        self.sf_dir = ""
        self.session_start_s = 0.0

    @contextmanager
    def _timed(self, book: dict, name: str):
        t0 = time.monotonic()
        with self.tracer.span(name):
            yield
        book.setdefault(name, []).append(time.monotonic() - t0)

    def data_dir(self, sf: float, tables) -> tuple[str, dict]:
        """Directory holding the generated ``tables`` at scale ``sf``, and
        their row counts."""
        from perfbench import datagen

        with self.fixture("bench.datagen"):
            path = datagen.data_dir(os.path.join(STATE, "cache"), sf)
            return path, datagen.ensure_tables(path, sf, tables)

    def setup_rep(self, name: str):
        """Time one repetition of an engine-side set-up step."""
        return self._timed(self.setup, name)

    def fixture(self, name: str):
        """Time a benchmark-only step (data generation, oracles); it is
        reported, but not part of ``setup_s``: no engine change can move
        it."""
        return self._timed(self.fixtures, name)

    def setup_s(self) -> float:
        from perfbench.workloads import median

        return self.session_start_s + sum(
            median(v) for v in self.setup.values())

    def start_spark(self, cores: int):
        from ollama_ocr_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        spark = get_spark(app="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark


def configure_environment(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size the driver from this host."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    mem = host_mem_bytes()
    driver_gb = max(1, min(4, mem // (4 << 30)))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_GRAFT_CONF"] = ";".join([
        f"spark.local.dir={os.path.join(work, 'local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ])
    return {"cores": host_cores(), "mem_bytes": mem,
            "driver_memory": f"{driver_gb}g"}


def run_workload(args, work: str) -> tuple[dict, object]:
    """One run of one workload; returns its record and its tracer."""
    from perfbench import sparkmetrics
    from perfbench.spans import commit_totals
    from perfbench.workloads import WHY, WORKLOADS, kernel_microbench, median

    host = configure_environment(work)
    ctx = Context(args, work)
    cls = WORKLOADS[args.workload]
    # the sampler walks /proc on a thread of its own: only traced runs
    # pay for it
    rss = RssSampler()
    with (rss if args.trace else nullcontext()), session(ctx):
        ctx.sf_dir, rows = ctx.data_dir(ctx.sf, cls.tables)
        t0 = time.monotonic()
        with ctx.tracer.span("session.start"):
            spark = ctx.start_spark(ctx.nproc)
        ctx.session_start_s = time.monotonic() - t0
        wl = cls(ctx)
        wl.prepare()

        layer_ops: list[dict] = []
        traced_walls, plain_walls = [], []
        raised = 0
        t_start = time.monotonic()
        i = 0
        while i == 0 or time.monotonic() - t_start < ctx.seconds:
            if (args.smoke and i >= 1) or wl.exhausted(i):
                break
            # traced runs switch spans on and off in the pattern on, off,
            # off, on, ..., so the tracing overhead is measured against ops
            # of the same run, balanced against a warming trend
            traced = bool(args.trace) and i % 4 in (0, 3)
            ctx.tracer.enabled = traced
            last = sparkmetrics.last_execution_id(spark) if args.trace else 0
            try:
                with ctx.tracer.span("op", index=i):
                    wall = wl.op(i)
            except Exception:  # an op that raises counts as failed
                traceback.print_exc()
                raised += 1
                i += 1
                continue
            wl.op_walls.append(wall)
            (traced_walls if traced else plain_walls).append(wall)
            if args.trace:
                execs, totals = sparkmetrics.collect(spark, last)
                jobs, tasks = sparkmetrics.jobs_and_tasks(spark, last)
                layer_ops.append(sparkmetrics.layers(totals, len(execs),
                                                     jobs, tasks))
            i += 1
        measure_s = time.monotonic() - t_start
        ctx.tracer.enabled = bool(args.trace)

        attempted, failed = wl.check()
        attempted += raised * wl.units_per_op()
        failed += raised * wl.units_per_op()
        summary = wl.summary()

        layers: dict = {}
        if args.trace:
            for key in layer_ops[0] if layer_ops else ():
                layers[key] = median([op[key] for op in layer_ops])
            layers.update(commit_totals(wl.timed_tables()))
            layers.update(kernel_microbench(wl.base_texts()))
            layers.update(wl.layer_probes())
            extra_attempted, extra_failed = wl.check_extra()
            attempted += extra_attempted
            failed += extra_failed
            if traced_walls and plain_walls:
                layers["trace.overhead_ratio"] = (
                    median(traced_walls) / median(plain_walls) - 1.0)
        layers["session.start_s"] = ctx.session_start_s
        driver_mem = ctx.spark.conf.get("spark.driver.memory")

    if args.trace:
        layers["peak_rss_mb"] = rss.peak_total / 2**20
        layers["rss.jvm_mb"] = rss.peak_jvm / 2**20
        layers["rss.python_mb"] = rss.peak_python / 2**20
    e2e = {"setup_s": ctx.setup_s(), "op_median_s": median(wl.op_walls)}
    record = {
        "workload": args.workload, "why": WHY[args.workload],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "smoke": args.smoke,
        "host": {**host, "driver_memory_effective": driver_mem,
                 "python": platform.python_version(),
                 "spark": __import__("pyspark").__version__,
                 "pyarrow": __import__("pyarrow").__version__},
        "inputs": {"sf": ctx.sf, "tables": rows, "replicas": ctx.replicas,
                   "tick_captures": ctx.tick_captures},
        "ops": len(wl.op_walls), "op_walls_s": wl.op_walls,
        "measure_s": measure_s, "raised": raised,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "setup": ctx.setup, "fixtures": ctx.fixtures,
        "end_to_end": e2e, "summary": summary, "layers": layers,
    }
    if args.trace:
        record["self_s"] = ctx.tracer.self_times()
    return record, ctx.tracer


@contextmanager
def session(ctx):
    """Whatever happens inside, stop the session and the JVM on the way out
    and wait for every child process."""
    try:
        yield
    finally:
        stop_spark(ctx)


def stop_spark(ctx) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(RssSampler.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def final_line(record: dict, trace: bool) -> dict:
    names = PER_LAYER if trace else END_TO_END
    source = record["layers"] if trace else record["end_to_end"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": source[k], "unit": u}
                    for k, u in names.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one op on sf0.001 with tracing and checks on; "
                         "without --workload, every workload in turn")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("ollama_ocr_spark", "__spark_entry__.py",
                           "tools/check_oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.smoke and args.workload is None:
        return smoke(args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")

    work = os.path.join(STATE, f"work-{os.getpid()}")
    try:
        record, tracer = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(STATE, "out")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer.enabled:
        tracer.dump(os.path.join(out, stem + "-spans.json"))
    print(json.dumps({"perfbench": record}, default=str))
    print(json.dumps(final_line(record, bool(args.trace))))
    return 0


def smoke(args) -> int:
    """Every workload in a child process of its own (one JVM each), one
    op on sf0.001 with tracing and the correctness checks on."""
    import subprocess

    from perfbench.workloads import WORKLOADS

    bad = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", "1", "--trace", "1",
               "--smoke"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
        try:
            result = json.loads(last[0])
        except json.JSONDecodeError:
            result = {}
        ok = proc.returncode == 0 and result.get("correct") is True
        print(f"{name:14s} {'ok' if ok else 'FAIL'} rc={proc.returncode} "
              f"attempted={result.get('attempted')} "
              f"failed={result.get('failed')}")
        if not ok:
            bad.append(name)
            sys.stderr.write(proc.stderr[-4000:])
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
