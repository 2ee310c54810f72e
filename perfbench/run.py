#!/usr/bin/env python3
"""Benchmark of the tab2neo_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload web_build --seed 1 --seconds 16 --trace 0

Works from any directory. Runs in one process on ``local[k]`` (k = at most
4 and at most the CPU count) with a 2 GB driver heap. Everything it writes
(inputs, stores, Spark scratch space, event logs) goes under a temporary
directory inside the checkout, removed at exit.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` measures the
per-layer metrics with the Spark event log on; operations alternate
between untraced and traced, and the difference of their median times is
the tracing overhead. Spans go to ``.perfbench_out/`` at the root of the
checkout.

Human-readable lines come first. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
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
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SETUP_REPS = {"web_build": 5, "table_refactor": 5, "graph_readback": 3}
OP_TIMEOUT_S = 60
WARMUP = {"web_build": 2, "table_refactor": 2, "graph_readback": 4}
# Driver JVM options, chosen so that a run's CPU time is steady:
# - C1 only. Under the default tiered C2 compiler an operation keeps
#   getting faster for its first five or six repetitions (about 50 s of
#   web_build), and C2's compiler threads burned as much CPU as the
#   operation itself in the first ones. With C1 alone the CPU time of the
#   third operation is within a few percent of steady state.
# - The tiered code cache size. C1 alone gets 48 MB; every operation
#   compiles newly generated classes, and once that cache filled, flushing
#   and recompiling it slowed the next operations by up to 40%.
# - Lower compile thresholds, which move compilation into the warm-up.
# - The serial collector, which adds no concurrent GC threads to the CPU
#   count, and a pre-touched heap, so the RSS does not depend on how much
#   of the heap a run happened to reach.
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:CompileThresholdScaling=0.2 "
            "-XX:+UseSerialGC -XX:+AlwaysPreTouch")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _process_table() -> dict[int, list[tuple[int, str, list[str]]]]:
    """Children of every process: ppid -> [(pid, command, stat fields)]."""
    children: dict[int, list[tuple[int, str, list[str]]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
            fields = rest.split()
            ppid = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append((int(name), comm.split("(", 1)[-1], fields))
    return children


def _descendants(root: int) -> list[tuple[int, str, list[str]]]:
    children, out, todo = _process_table(), [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            todo.append(child[0])
            out.append(child)
    return out


def _jvm_and_python_workers(jvm: int) -> list[int]:
    """The JVM and its Python descendants. Other descendants are skipped:
    while the JVM spawns a helper process, the child shares the JVM's
    memory and reports the JVM's whole RSS as its own."""
    return [jvm] + [pid for pid, comm, _ in _descendants(jvm) if "python" in comm]


class CpuClock:
    """CPU seconds used so far by this Python driver, the JVM and every
    process below the JVM (the PySpark daemon and its workers), reaped
    children included. The kernel leaves out the time a virtual CPU waits
    for its host (steal time), so on a shared host this clock reads the
    engine's own work while the wall clock also reads the neighbours'."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _ticks(fields: list[str]) -> int:
        # utime, stime, cutime, cstime
        return sum(int(v) for v in fields[11:15])

    def __call__(self) -> float:
        with open(f"/proc/{self.jvm}/stat") as f:
            ticks = self._ticks(f.read().rsplit(")", 1)[1].split())
        ticks += sum(self._ticks(fields) for _, _, fields in _descendants(self.jvm))
        return time.process_time() + ticks / self.tick


class RssSampler:
    """High-water RSS of the driver JVM plus its Python workers, sampled
    every 200 ms while active. The process tree is walked only once a
    second, to keep the sampler's share of the driver's GIL small."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pids, k = [], 0
        while not self._stop.wait(0.2):
            if k % 5 == 0:
                pids = _jvm_and_python_workers(self.pid)
            k += 1
            total = sum(_rss_kb(p) for p in pids)
            self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def start_spark(work: str, event_dir: str | None = None):
    from tab2neo_spark.session import get_spark

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xms{DRIVER_MEM} {JVM_OPTS}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _median(xs)


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.alternate = None  # (tracer, null tracer): trace odd blocks only
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, what: str):
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what)

    def one(self, i) -> dict:
        """One operation under a timeout; a raise or timeout counts as a
        failure and its elapsed time stays in the timings."""
        sc = self.wl.spark.sparkContext
        if self.alternate is not None:
            traced, plain = self.alternate
            self.wl.tracer = traced if self.wl.traced(i) else plain
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        self.attempted += 1
        c0, t0 = self.wl.cpu(), time.perf_counter()
        timer.start()
        try:
            with self.wl.tracer.operation(i):
                rec = self.wl.op(i)
            rec["ok"] = True
        except Exception:
            self._fail(f"op {i}: {traceback.format_exc(limit=3)}")
            rec = {"ok": False, "rows": 0}
        finally:
            timer.cancel()
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = self.wl.cpu() - c0
        rec["i"] = i
        return rec

    def loop(self, seconds: float, start: int) -> list[dict]:
        recs = []
        t_end = time.perf_counter() + seconds
        i = start
        while time.perf_counter() < t_end:
            recs.append(self.one(i))
            i += 1
        return recs

    def check(self, recs: list[dict]) -> list[dict]:
        for rec in recs:
            if not rec["ok"]:
                continue
            try:
                rec.update(self.wl.check(rec["i"]))
            except Exception:
                rec["ok"] = False
                self._fail(f"check {rec['i']}: {traceback.format_exc(limit=3)}")
        return recs


def _t(rec, key):
    """A phase's time; a failed operation counts with its whole time."""
    if rec["ok"]:
        return rec[key]
    return rec["cpu"] if key.endswith("cpu_s") else rec["wall"]


def end_to_end(wl, recs, setup_s, peak_kb) -> tuple[dict, list]:
    """The gated metrics (same names on every workload), and the
    wall-clock and workload-specific ones (``rows_per_s``, ``op_s.p50``,
    the two phases, ``query_s.*``) that are printed only."""
    name = wl.name
    if name == "graph_readback":
        qs = [_t(r, "query_s") for r in recs]
        cpu = [_t(r, "query_cpu_s") for r in recs]
        rows = sum(r["rows"] for r in recs)
        op, op_cpu = qs, cpu
        rows_per_s = rows / max(sum(qs), 1e-9)
        rows_per_cpu_s = rows / max(sum(cpu), 1e-9)
        store_ratio = wl.store_bytes / wl.input_bytes
        extra = [("query_s.p50", _median(qs), "s"), ("query_s.p90", _p90(qs), "s"),
                 ("queries", len(qs), "count"),
                 ("queries_beyond_p90", sum(q > _p90(qs) for q in qs), "count")]
    else:
        fast, slow = ("build", "upsert") if name == "web_build" else ("refactor", "derive")
        op = [_t(r, f"{slow}_s") for r in recs]
        op_cpu = [_t(r, f"{slow}_cpu_s") for r in recs]
        rows = sum(r["rows"] for r in recs)
        rows_per_s = rows / max(sum(r["wall"] for r in recs), 1e-9)
        rows_per_cpu_s = rows / max(sum(r["cpu"] for r in recs), 1e-9)
        sizes = [r["store_bytes"] for r in recs if r["ok"]]
        store_ratio = _median(sizes) / wl.input_bytes if sizes else 0.0
        extra = [(f"{fast}_s", _median([_t(r, f"{fast}_s") for r in recs]), "s"),
                 (f"{slow}_s", _median(op), "s"), ("repetitions", len(recs), "count")]
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (rows_per_cpu_s, "rows/cpu_s"),
        "op_cpu_s.p50": (_median(op_cpu), "cpu_s"),
        "store_bytes_per_input_byte": (store_ratio, "ratio"),
        "peak_rss_mb": (peak_kb / 1024, "MB"),
    }
    extra = [("rows_per_s", rows_per_s, "rows/s"), ("op_s.p50", _median(op), "s")] + extra
    return metrics, extra


def per_layer(tracer, counters, probe, ops, overhead_s, store_dir) -> dict:
    from tracing import LAYERS

    import gen

    spans = tracer.spans
    n_ops = max(len(ops), 1)
    m: dict[str, tuple] = {}

    def c(sp, key):
        return counters.get(sp["id"], {}).get(key, 0)

    def store_scanned(sp):
        sc = counters.get(sp["id"], {}).get("scanned", {})
        return sum(v for d, v in sc.items() if d.startswith(store_dir))

    def in_ops(layer, name=None):
        return [s for s in spans if s["op"] is not None and s["layer"] == layer
                and (name is None or s["name"].startswith(name))]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def p(key):
        """A probe figure, summed over the phases it was taken for."""
        v = probe.get(key, 0)
        return sum(v) if isinstance(v, list) else v

    m["sources.scan_s"] = (p("scan_s"), "s")
    m["model.plan_s"] = (p("model_s"), "s")
    m["extract.busy_s"] = (p("extract_s"), "s")
    m["kg.construct.plan_s"] = (dur(in_ops("kg.construct")) / n_ops, "s")
    m["kg.construct.busy_s"] = (p("pairs_s") - p("extract_s"), "s")
    m["kg.construct.pairs_per_page"] = (p("pairs") / max(p("pages"), 1), "pairs/page")
    m["kg.refactor.plan_s"] = (dur(in_ops("kg.refactor")) / n_ops, "s")
    m["kg.refactor.busy_s"] = (p("refactor_busy_s") - p("scan_s"), "s")
    m["kg.refactor.edges_per_row"] = (p("edges") / max(p("rows"), 1), "edges/row")
    busy = [s for s in spans if s["name"] == "refactor.busy"]
    m["kg.refactor.shuffle_bytes"] = (sum(c(s, "shuffle_bytes") for s in busy), "B")

    writes = in_ops("kg.materialize", "write.")
    for table in ("nodes", "edges", "triples"):
        m[f"kg.materialize.write_s.{table}"] = (
            dur([s for s in writes if s["table"] == table]) / n_ops, "s")
    offered = [s for s in writes if s.get("offered") is not None]
    n_offered = max(sum(s["offered"] for s in offered), 1)
    m["kg.materialize.rows_written_ratio"] = (sum(s["rows_written"] for s in offered) / n_offered, "ratio")
    upserts = [s for s in offered if s["existing"]]
    m["kg.materialize.existing_bytes_read_per_row"] = (
        sum(store_scanned(s) for s in upserts) / max(sum(s["offered"] for s in upserts), 1), "B/row")
    m["kg.materialize.jobs_per_write"] = (sum(c(s, "jobs") for s in writes) / max(len(writes), 1), "jobs/write")
    m["kg.materialize.spill_bytes"] = (sum(c(s, "spill_bytes") for s in in_ops("kg.materialize")) / n_ops, "B")
    m["kg.materialize.bytes_written"] = (sum(s["bytes"] for s in writes) / n_ops, "B")
    m["kg.materialize.files_written"] = (sum(s["files"] for s in writes) / n_ops, "count")

    m["pipeline.apply_s"] = (dur(in_ops("pipeline", "pipeline.apply")) / n_ops, "s")
    pw = in_ops("pipeline", "pipeline.write")
    m["pipeline.write_s"] = (dur(pw) / n_ops, "s")
    pw_ids = {s["id"] for s in pw}
    batches = [s for s in writes if s["parent"] in pw_ids]
    m["pipeline.store_bytes_read_per_batch"] = (
        sum(store_scanned(s) for s in pw + batches) / max(len(batches), 1), "B/batch")

    queries = in_ops("provider", "query.")
    for shape in gen.SHAPES:
        qs = [s for s in queries if s["shape"] == shape]
        k = max(len(qs), 1)
        m[f"provider.plan_s.{shape}"] = (sum(s["plan_s"] for s in qs) / k, "s")
        m[f"provider.exec_s.{shape}"] = (sum(s["exec_s"] for s in qs) / k, "s")
        m[f"provider.bytes_scanned_per_row.{shape}"] = (
            sum(store_scanned(s) for s in qs) / max(sum(s["rows"] for s in qs), 1), "B/row")
    m["provider.jobs_per_query"] = (sum(c(s, "jobs") for s in queries) / max(len(queries), 1), "jobs/query")

    self_s = tracer.self_times()
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        m[f"{layer}.failed_tasks"] = (sum(c(s, "failed_tasks") for s in mine), "count")
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / n_ops, "s")
    m["trace.overhead_s"] = (overhead_s, "s")
    return m


def run(args, work: str) -> dict:
    import workloads
    from tracing import NullTracer, Tracer, read_event_log, span_counters

    wl = workloads.WORKLOADS[args.workload](None, work, args.seed, NullTracer())
    setup_times = []

    def set_up():
        for k in range(SETUP_REPS[wl.name] if not args.trace else 1):
            t0 = time.perf_counter()
            wl.setup(k)
            setup_times.append(time.perf_counter() - t0)

    # input generation alone runs before the JVM starts, so the JVM's
    # start-up threads do not compete with it
    if not wl.setup_uses_spark:
        set_up()
    t0 = time.perf_counter()
    spark = start_spark(work, os.path.join(work, "events") if args.trace else None)
    wl.spark = spark
    # one tiny job absorbs JVM start-up before anything is timed
    spark.range(1000).selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t0
    if wl.setup_uses_spark:
        set_up()
    # set-up = engine session start + the median input set-up; a set-up of
    # tens of milliseconds alone reads up to 1.7x apart between processes
    setup_s = session_s + _median(setup_times)

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    wl.cpu = CpuClock(jvm_pid)
    runner = Runner(wl)
    t0 = time.perf_counter()
    runner.check([runner.one(i) for i in range(WARMUP[wl.name])])
    warmup_s = time.perf_counter() - t0
    start = WARMUP[wl.name]
    if not args.trace:
        with RssSampler(jvm_pid) as rss:
            recs = runner.loop(args.seconds, start)
        t0 = time.perf_counter()
        runner.check(recs)
        check_s = time.perf_counter() - t0
        metrics, extra = end_to_end(wl, recs, setup_s, rss.peak_kb)
        extra += [("setup.session_s", session_s, "s"), ("setup.inputs_s", _median(setup_times), "s"),
                  ("run.warmup_s", warmup_s, "s"), ("run.check_s", check_s, "s")]
    else:
        # the event log is on for the whole run; blocks of operations
        # alternate between untraced and traced, so warm-up drift cancels
        # out of the overhead
        tracer = Tracer(spark)
        wl.tracer = tracer
        probe = wl.probe()
        runner.alternate = (tracer, NullTracer())
        recs = runner.check(runner.loop(args.seconds, start))
        spark.stop()
        traced = [r for r in recs if wl.traced(r["i"])]
        plain = [r for r in recs if not wl.traced(r["i"])]
        counters = span_counters(read_event_log(os.path.join(work, "events")))
        overhead = _median([r["wall"] for r in traced]) - _median([r["wall"] for r in plain])
        metrics = per_layer(tracer, counters, probe, traced, overhead,
                            os.path.join(work, "stores"))
        extra = [("traced_ops", len(traced), "count"), ("untraced_ops", len(plain), "count")]
        _dump_spans(args, tracer)

    for name, (v, unit) in metrics.items():
        print(f"{wl.name:15s} {name:45s} {v:14.6g} {unit}")
    for name, v, unit in extra:
        print(f"{wl.name:15s} {name:45s} {v:14.6g} {unit}")
    ratio = runner.failed / max(runner.attempted, 1)
    print(f"{wl.name:15s} {'failed_ratio':45s} {ratio:14.6g} ratio "
          f"({runner.failed}/{runner.attempted})")
    print(f"{wl.name:15s} input properties: {json.dumps(wl.props, sort_keys=True)}")
    if not args.trace:
        walls = " ".join(f"{r['wall']:.2f}/{r['cpu']:.2f}" for r in recs)
        print(f"{wl.name:15s} operation wall/cpu (s): {walls}")
    for e in runner.errors:
        print(f"{wl.name:15s} FAILURE: {e}", file=sys.stderr)
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _dump_spans(args, tracer) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(tracer.spans, f)


def _stop_jvm() -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    # Python workers import the engine from the checkout, and every
    # temporary file of Python, Py4J and the JVM stays in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = work
    try:
        result = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    sys.exit(main())
