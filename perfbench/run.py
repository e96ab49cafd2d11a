"""Benchmark of the extraction engine: three workloads, end to end and by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``workloads.py``): ``extract_fused_uniform`` and
``extract_dedup_skewed`` are the ones ``BENCHMARK.json`` lists; their
traced runs also measure ``curate_text`` and ``extract_job_skewed`` as
companions, which run on their own too. The run generates the
workload's input from the seed, sets up a Spark ``local[N]`` session
three times, makes three warm-up passes (the first, cold one is checked)
and then runs passes in a closed loop (the next pass starts when the
previous one ends) for ``--seconds`` seconds of pass time. The last pass
is checked too. N = min(4, nproc) - 1: one vCPU is left to the JVM's own
threads (JIT, GC) and the driver, which otherwise preempt the workers.

With ``--trace 0`` the metrics are end to end: the median CPU time a pass
costs the engine (the JVM and its Python workers, JIT compilation left
out) and the rates derived from it, the CPU time of a set-up, and the peak
RSS of a Python worker. The CPU times are normalised to a fixed host
speed, measured with a reference loop (see ``REF_NOMINAL_S``). The raw CPU
times and the walls of the passes and set-ups are printed too, but are
not among the JSON metrics: they follow whatever else the host runs. On a
shared 4-vCPU VM the median pass wall of the same code spread by 20-67%
of its median over ten runs; with three busy processes beside it a fused
pass took 65% longer but only 10% more CPU, and as the host's own load
changed, the raw CPU of a pass moved by up to 40%.

With ``--trace 1`` untraced and traced passes alternate, the Spark event
log is on, and the metrics are per layer: span times, the split of a
pass's CPU between the JVM, its JIT and the Python workers, event-log task
metrics per labelled span, and probes of single layers (scan, Arrow
boundary, the kernel in one process) and one warm pass of the companion
workload.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Host facts, the
tables and the spans are printed above it and written under
``.bench_work/results/``. Everything the run writes stays under
``.bench_work/`` in the checkout.

Self-tests: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

from tracing import Ledger, Tracer, read_event_log, self_time, spark_layer
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(1, str(ROOT))
MB = 1 << 20
SETUPS = 3
WARM_PASSES = 2  # untimed, after the checked cold pass
KERNEL_SAMPLE = 1000

# The host's speed, as the CPU time of a fixed pure-Python loop that a
# thread of this process runs every 50 ms (``SpeedSampler``). CPU times
# are reported scaled to a host on which the loop takes REF_NOMINAL_S. On
# a shared 4-vCPU VM the CPU of the same fused pass moved by 40% between
# runs minutes apart (4.1 to 5.7 s), switching between a fast and a slow
# state that the loop's time followed (about 1.1 and 1.5 ms).
REF_LOOP_N = 20_000
REF_NOMINAL_S = 0.0015

END_TO_END_UNITS = {
    "setup_s": "s",
    "norm_cpu_s": "s",
    "docs_per_norm_cpu_s": "1/s",
    "input_mb_per_norm_cpu_s": "MB/s",
    "peak_worker_rss_mb": "MB",
}


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree, else None."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        p = ROOT / ".git" / ref[5:]
        return p.read_text().strip() if p.is_file() else ref[5:]
    return ref


def configure_env(work: Path, trace: bool) -> dict[str, str]:
    """Environment and Spark settings that keep the run inside ``work``.

    The driver heap is sized from host RAM through the engine's own
    ``SPARK_DRIVER_MEM`` override (a quarter of RAM, 1-4 GiB) unless the
    caller set it. The checkout root goes on the workers' PYTHONPATH, so
    they import the engine from wherever the benchmark is started.
    """
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the launcher's too: no /tmp/hsperfdata, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if "SPARK_DRIVER_MEM" not in os.environ:
        mb = max(1024, min(4096, host_ram_mb() // 4))
        os.environ["SPARK_DRIVER_MEM"] = f"{mb}m"
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed young generation: under G1's adaptive sizing the fused
        # pass swung between 1.5 and 1.9 s from run to run (IQR/median 0.18
        # over 5 seeds); with it, 0.06 over 6 seeds
        "spark.driver.extraJavaOptions": "-Xms1g -Xmn384m",
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.dir": (work / "eventlog").as_uri(),
        # one plain file per application: Spark 4 defaults to rolling,
        # zstd-compressed event logs
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


class RssSampler(threading.Thread):
    """Peak RSS of the JVM and its Python processes, sampled from /proc.

    ``peak_total`` adds the JVM to its ``slots`` largest Python processes
    (one worker per task slot plus the daemon): Spark keeps idle workers
    for a minute, and how many linger is timing noise, not memory the
    workload needs.
    """

    PERIOD_S = 0.1
    RESCAN_EVERY = 10  # samples between walks of /proc for new workers

    def __init__(self, jvm_pid: int, slots: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.slots = slots
        self.peak_worker = 0
        self.peak_jvm = 0
        self.peak_total = 0
        self.max_python = 0
        self._python: list[int] = []
        self._samples = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (FileNotFoundError, ProcessLookupError):
            return 0

    def _python_descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        names: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            comm = stat[stat.index("(") + 1: stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(d))
            names[int(d)] = comm
        out, todo = [], list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            if names[pid].startswith("python"):
                out.append(pid)
        return out

    def sample(self) -> None:
        # walking /proc for new workers is the costly part, and it holds the
        # GIL that the driver's own py4j calls need: do it every few samples
        if self._samples % self.RESCAN_EVERY == 0:
            self._python = self._python_descendants()
        self._samples += 1
        python = sorted((self._rss(p) for p in self._python), reverse=True)
        jvm = self._rss(self.jvm_pid)
        self.peak_worker = max([self.peak_worker, *python])
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_total = max(self.peak_total, jvm + sum(python[:self.slots]))
        self.max_python = max(self.max_python, len(python))

    def run(self) -> None:
        while not self._halt.wait(self.PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _warm_worker(batches):
    """Runs in each Python worker: import the engine and extract one page."""
    import pyarrow as pa

    from comic_text_detector_spark.plans.extract import extract_document

    n = sum(b.num_rows for b in batches)
    extract_document(b"<html><body><p>warm up</p></body></html>")
    yield pa.RecordBatch.from_pydict({"n": [n]})


def current_jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc.pid if gateway is not None else None


def set_up(extra_conf: dict, cores: int):
    """``get_spark`` plus one action that starts every Python worker.
    Returns the session, the wall seconds of both steps and the CPU
    seconds the engine spent on them."""
    from comic_text_detector_spark.session import get_spark

    c0 = engine_cpu(current_jvm_pid())
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(0, cores, 1, cores).mapInArrow(_warm_worker, "n long").collect()
    t2 = time.perf_counter()
    cpu = cpu_seconds(c0, engine_cpu(current_jvm_pid()))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1, cpu


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


class TaskCounter:
    """Task attempts and failures of the jobs run since the last call,
    from Spark's status tracker (for passes run without an event log)."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self.seen = set(self.st.getJobIdsForGroup())

    def delta(self) -> tuple[int, int]:
        attempts = failed = 0
        for j in set(self.st.getJobIdsForGroup()) - self.seen:
            self.seen.add(j)
            info = self.st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.st.getStageInfo(sid)
                if st is not None:
                    attempts += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        return attempts, failed


def kernel_probe(pages: list[bytes], rounds: int = 5) -> dict:
    """Single-process kernel timing on a fixed sample of workload pages.

    Each page is tokenized and then extracted, back to back, so drift in
    the host's speed hits both timers alike; the medians over ``rounds``
    loops are reported per document.
    """
    from comic_text_detector_spark.functions.html import tokenize
    from comic_text_detector_spark.plans.extract import extract_document

    clock = time.perf_counter_ns
    tok, kernel = [], []
    for _ in range(rounds):
        t_tok = t_kernel = 0
        for p in pages:
            t0 = clock()
            tokenize(p)
            t1 = clock()
            extract_document(p)
            t2 = clock()
            t_tok += t1 - t0
            t_kernel += t2 - t1
        tok.append(t_tok / len(pages) / 1000)
        kernel.append(t_kernel / len(pages) / 1000)
    return {
        "extract.kernel_us_per_doc": statistics.median(kernel),
        "html.tokenize_us_per_doc": statistics.median(tok),
        "extract.keep_group_us_per_doc": statistics.median(
            k - t for k, t in zip(kernel, tok)),
        "html.nodes_per_doc": statistics.mean(len(tokenize(p)) for p in pages),
    }


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _passthrough(batches):
    yield from batches


def layer_probes(spark, wl, tracer) -> dict:
    """Single-layer probes run after the passes, each in its own span:
    the scan into a noop sink, the same scan through a passthrough
    ``mapInArrow`` (the JVM-Python boundary), and the kernel in this
    process on a fixed sample of the workload's pages."""
    out = {"sources.input_mb": wl.input_bytes / MB}
    if not wl.html:
        with tracer.span("probe.scan"):
            out["sources.scan_s"] = min(_noop(wl.read()) for _ in range(2))
        return out
    docs = wl.read().select("url", "html")
    with tracer.span("probe.scan"):
        scan = min(_noop(docs) for _ in range(2))
    with tracer.span("probe.arrow_passthrough"):
        passthrough = min(
            _noop(docs.mapInArrow(_passthrough, "url string, html binary"))
            for _ in range(2))
    out["sources.scan_s"] = scan
    out["extract.arrow_boundary_s"] = passthrough - scan
    out.update(kernel_probe(wl.sample_pages(KERNEL_SAMPLE)))
    return out


def companion_probe(comp, tracer) -> list[int]:
    """The companion workload's layers: a cold checked pass, then one
    traced pass, checked against the first. Returns the two checks."""
    comp.prepare()
    checks = [comp.first_pass()]
    comp.cleanup()
    tracer.enabled = True
    with tracer.span(f"probe.{comp.name}"):
        comp.run_pass()
    tracer.enabled = False
    checks.append(comp.check())
    comp.cleanup()
    return checks


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, ledger, cores: int, walls: dict, cpus: dict,
              jvm_cpus: list, jit_cpus: list, ref_s: float, setups: list,
              probes: dict, first_pass_s: float, sampler) -> dict:
    """Per-layer metrics from spans, event-log jobs and probes; a layer the
    workload does not run reads 0."""
    passes = ledger.tracer.named("pass")
    m = {name: 0.0 for name in PER_LAYER}
    m.update(probes)
    m["session.start_s"] = median([s[0] for s in setups])
    m["session.worker_warm_s"] = median([s[1] for s in setups])
    m["session.jvm_setup_s"] = setups[0][0] + setups[0][1]
    m["session.first_pass_s"] = first_pass_s
    m["memory.peak_rss_mb"] = sampler.peak_total / MB
    m["memory.peak_jvm_rss_mb"] = sampler.peak_jvm / MB
    engine = [spark_layer(ledger.tasks(p), p.seconds, cores) for p in passes]
    for k in engine[0]:
        m[k] = median([e[k] for e in engine])
    top = [sum(c.seconds for c in ledger.tracer.children(p)) for p in passes]
    m["pass.wall_s"] = median(walls["untraced"])
    m["pass.cpu_s"] = median(cpus["untraced"])
    m["host.ref_loop_ms"] = ref_s * 1000
    m["pass.jvm_cpu_s"] = median(jvm_cpus)
    m["pass.jit_cpu_s"] = median(jit_cpus)
    m["pass.worker_cpu_s"] = median(
        [c - j for c, j in zip(cpus["untraced"], jvm_cpus)])
    m["trace.overhead_s"] = median(walls["traced"]) - median(walls["untraced"])
    m["trace.top_spans_s"] = median(top)
    m["trace.top_spans_share"] = median(top) / median(walls["untraced"])
    m.update(wl.layers(ledger))
    return m


def layer_table(ledger) -> list[str]:
    """One line per span name: count, then medians over its spans of total
    and self seconds, Spark jobs, task seconds and shuffle-write MB."""
    tr = ledger.tracer
    lines = [f"{'span':<34}{'n':>3}{'total_s':>9}{'self_s':>9}"
             f"{'jobs':>6}{'task_s':>9}{'shuf_w_mb':>10}"]
    for name in dict.fromkeys(s.name for s in tr.spans):
        spans = tr.named(name)
        tasks = [ledger.tasks(s) for s in spans]
        lines.append(
            f"{name:<34}{len(spans):>3}"
            f"{median([s.seconds for s in spans]):>9.3f}"
            f"{median([self_time(s, tr.children(s)) for s in spans]):>9.3f}"
            f"{median([len(ledger.jobs(s)) for s in spans]):>6.1f}"
            f"{median([sum(t.run_ms for t in ts) / 1000 for ts in tasks]):>9.2f}"
            f"{median([sum(t.shuffle_write for t in ts) / MB for ts in tasks]):>10.2f}")
    return lines


def layer_unit(name: str) -> str:
    for suffix, unit in (("_per_input_mb", "ratio"), ("_us_per_doc", "us"),
                         ("_ms_per_kdoc", "ms"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s"), ("_ratio", "ratio"), ("_share", "ratio")):
        if name.endswith(suffix) or f"{suffix}_" in name:
            return unit
    return "count"


PER_LAYER = [
    "session.start_s", "session.worker_warm_s", "session.jvm_setup_s",
    "session.first_pass_s", "host.ref_loop_ms", "pass.wall_s", "pass.cpu_s",
    "pass.jvm_cpu_s", "pass.worker_cpu_s", "pass.jit_cpu_s",
    "memory.peak_rss_mb", "memory.peak_jvm_rss_mb",
    "sources.scan_s", "sources.input_mb",
    "extract.arrow_boundary_s", "extract.kernel_us_per_doc",
    "extract.keep_group_us_per_doc", "extract.task_run_ms_per_kdoc",
    "html.tokenize_us_per_doc", "html.nodes_per_doc",
    "runner.staging_s", "runner.chunks_s",
    "runner.chunk_task_run_ms_per_kdoc", "runner.output_mb_per_input_mb",
    "runner.spark_jobs",
    "dedup.asof_shuffle_write_mb", "dedup.rows_dropped",
    *[f"curate.{s}_{k}" for s in (
        "robots", "decontaminate", "line_dedup", "cut_spans", "lm_floor",
        "logit_floor", "pack") for k in ("s", "rows_out")],
    "curate.cut_spans_shuffle_write_mb", "curate.cut_spans_spill_mb",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.gc_ms", "spark.task_ms_p50", "spark.task_ms_p95",
    "spark.task_ms_max", "spark.slot_busy_ratio", "spark.failed_tasks",
    "trace.overhead_s", "trace.top_spans_s", "trace.top_spans_share",
]


def engine_cpu(jvm_pid: int | None) -> dict[int, int]:
    """CPU ticks (user + system) used so far by each live process of the
    engine: the JVM and every process under it, its Python workers
    included. ``{}`` before the JVM is launched."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        # utime and stime, fields 14 and 15 of proc(5)
        ticks[int(d)] = int(fields[11]) + int(fields[12])
    out, todo = {}, [jvm_pid] if jvm_pid in ticks else []
    while todo:
        pid = todo.pop()
        out[pid] = ticks[pid]
        todo.extend(k for k in kids.get(pid, []) if k in ticks)
    return out


def cpu_seconds(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU the engine used between two ``engine_cpu`` snapshots. A process
    that ended in between counts for nothing: the workers of a pass live as
    long as its session, and the workers a stopped session leaves behind
    are not reaped by the engine, so their time cannot be followed."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_ticks(jvm_pid: int) -> dict[int, int]:
    """CPU ticks used so far by each live JIT compiler thread of the JVM."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if stat[stat.index("(") + 1:].startswith(("C1 Compiler", "C2 Compiler")):
            fields = stat[stat.rindex(")") + 2:].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def ref_loop_s() -> float:
    """CPU seconds of one run of the reference loop."""
    t = time.thread_time()
    x = 0
    for i in range(REF_LOOP_N):
        x += i * i
    return time.thread_time() - t


class SpeedSampler(threading.Thread):
    """Runs the reference loop every ``PERIOD_S`` and keeps each sample
    with its time. The loop's CPU time leaves out time the thread waits,
    so it follows the speed of the CPU, not how busy the VM is."""

    PERIOD_S = 0.05

    def __init__(self):
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float]] = []
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.PERIOD_S):
            self.samples.append((time.perf_counter(), ref_loop_s()))

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def scale(self, t0: float, t1: float) -> float:
        """Factor that takes a CPU time spent between ``t0`` and ``t1`` to
        the nominal host: REF_NOMINAL_S over the mean loop time then."""
        xs = [r for t, r in self.samples if t0 <= t <= t1]
        return REF_NOMINAL_S / statistics.mean(xs or [REF_NOMINAL_S])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def measure(wl, tracer, sc, seconds: float, trace: bool, speed):
    """The closed loop: passes back to back until ``seconds`` of pass time
    have run. With ``trace``, untraced and traced passes alternate, at
    least one of each. Each pass's wall and engine CPU time are recorded.
    The CPU of the JVM's JIT compiler threads is kept apart: it compiles
    for the passes to come, and a minute into a run it still took ~10% of a
    pass's CPU and kept falling, so it would make the pass CPU depend on
    how far the JIT has got. The output of the last pass is kept for its
    check. Each untraced pass's CPU is also scaled by ``speed`` to the
    nominal host."""
    counter = TaskCounter(sc)
    sampler = RssSampler(sc._gateway.proc.pid, sc.defaultParallelism + 1)
    walls: dict[str, list[float]] = {"untraced": [], "traced": []}
    cpus: dict[str, list[float]] = {"untraced": [], "traced": []}
    # the JVM's share of each untraced pass, and its JIT compilers' time
    jvm_cpus: list[float] = []
    jit_cpus: list[float] = []
    norm_cpus: list[float] = []
    jvm_pid = sc._gateway.proc.pid
    attempts = failed = 0
    ticks0 = cpu_ticks()
    sampler.start()
    try:
        while True:
            traced = trace and len(walls["untraced"]) > len(walls["traced"])
            tracer.enabled = traced
            c0, j0 = engine_cpu(jvm_pid), jit_ticks(jvm_pid)
            t0 = time.perf_counter()
            with tracer.span("pass"):
                wl.run_pass()
            walls["traced" if traced else "untraced"].append(
                time.perf_counter() - t0)
            c1, jit = engine_cpu(jvm_pid), cpu_seconds(j0, jit_ticks(jvm_pid))
            cpus["traced" if traced else "untraced"].append(
                cpu_seconds(c0, c1) - jit)
            if not traced:
                norm_cpus.append(cpus["untraced"][-1]
                                 * speed.scale(t0, t0 + walls["untraced"][-1]))
                jit_cpus.append(jit)
                jvm_cpus.append(cpu_seconds({jvm_pid: c0[jvm_pid]},
                                            {jvm_pid: c1[jvm_pid]}) - jit)
            tracer.enabled = False
            a, f = counter.delta()
            attempts += a
            failed += f
            elapsed = sum(walls["untraced"]) + sum(walls["traced"])
            if elapsed >= seconds and (walls["traced"] or not trace):
                break
            wl.cleanup()
    finally:
        sampler.stop()
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return (walls, cpus, norm_cpus, jvm_cpus, jit_cpus,
            failed / max(attempts, 1), sampler, steal / max(total, 1))


def run(args, work: Path, results: Path) -> dict:
    import comic_text_detector_spark  # noqa: F401  fail fast outside a checkout
    import pyspark


    cores = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
    extra_conf = configure_env(work, bool(args.trace))
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now

    spark = comp = None
    speed = SpeedSampler()
    try:
        speed.start()
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark, start_s, warm_s, cpu = set_up(extra_conf, cores)
            setups.append((start_s, warm_s,
                           cpu * speed.scale(t0, time.perf_counter())))
        phase("setups")
        sc = spark.sparkContext
        host = {
            "nproc": os.cpu_count(), "ram_mb": host_ram_mb(),
            "spark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "master": sc.master,
            "arrow_batch_rows": spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "seed": args.seed, "git_commit": git_commit(),
            "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace,
        }
        print("host: " + json.dumps(host), flush=True)

        tracer = Tracer(f"{args.workload}-{args.seed}", sc, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores, tracer)
        wl.prepare()
        phase("prepare")
        t0 = time.perf_counter()
        checks = [wl.first_pass()]
        first_pass_s = time.perf_counter() - t0
        wl.cleanup()
        # more untimed passes: the JVM's CPU per fused pass kept falling
        # for ~20 passes while the JIT settled (2.4 s to 0.7 s of ~7 s at
        # local[4])
        for _ in range(WARM_PASSES):
            wl.run_pass()
            wl.cleanup()
        phase("warm_up")
        (walls, cpus, norm_cpus, jvm_cpus, jit_cpus, failed_ratio, sampler,
         steal) = measure(wl, tracer, sc, args.seconds, bool(args.trace),
                          speed)
        phase("passes")
        if wl.checks_last_pass:
            checks.append(wl.check())
            wl.cleanup()
        phase("last_check")
        if args.trace:
            tracer.enabled = True
            probes = layer_probes(spark, wl, tracer)
            tracer.enabled = False
            phase("probes")
            if wl.companion:
                comp = WORKLOADS[wl.companion](
                    spark, work / wl.companion, args.seed, cores, tracer)
                checks += companion_probe(comp, tracer)
                phase("companion")
        app_id = sc.applicationId
    finally:
        if speed.is_alive():
            speed.stop()
        if spark is not None:
            stop_spark(spark)
            phase("stop")

    wall_s = median(walls["untraced"])
    cpu_s = median(cpus["untraced"])
    norm_cpu_s = median(norm_cpus)
    ref_s = median([r for _, r in speed.samples])
    e2e = {
        "setup_s": median([c for _, _, c in setups]),
        "norm_cpu_s": norm_cpu_s,
        "docs_per_norm_cpu_s": wl.docs / norm_cpu_s,
        "input_mb_per_norm_cpu_s": wl.input_bytes / MB / norm_cpu_s,
        "peak_worker_rss_mb": sampler.peak_worker / MB,
    }
    wrong = sum(checks)
    lines = [f"{'metric':<22}{'value':>14}  unit"]
    lines += [f"{k:<22}{v:>14.4f}  {END_TO_END_UNITS[k]}" for k, v in e2e.items()]
    # printed, but not among BENCHMARK.json's metrics: the raw pass CPU and
    # the walls follow the host (the module docstring says how far), the
    # JVM's RSS under G1 moved between 1.3 and 1.9 GB in identical runs,
    # and the last two are 0 whenever the run is correct
    lines.append(f"{'cpu_s':<22}{cpu_s:>14.4f}  s")
    lines.append(f"{'ref_loop_ms':<22}{ref_s * 1000:>14.4f}  ms")
    lines.append(f"{'setup_wall_s':<22}"
                 f"{median([s + w for s, w, _ in setups]):>14.4f}  s")
    lines.append(f"{'wall_s':<22}{wall_s:>14.4f}  s")
    lines.append(f"{'docs_per_s':<22}{wl.docs / wall_s:>14.4f}  1/s")
    lines.append(f"{'input_mb_per_s':<22}"
                 f"{wl.input_bytes / MB / wall_s:>14.4f}  MB/s")
    lines.append(f"{'peak_rss_mb':<22}{sampler.peak_total / MB:>14.4f}  MB")
    lines.append(f"{'wrong_rows':<22}{wrong:>14d}  count")
    lines.append(f"{'failed_task_ratio':<22}{failed_ratio:>14.4f}  ratio")
    lines.append(f"cpu steal during passes {steal:.3f}, "
                 f"phases_s {json.dumps(phases)}")
    lines.append("setups_s " + json.dumps([[round(x, 3) for x in s] for s in setups]))
    lines.append("pass_jvm_cpu_s " + json.dumps([round(c, 3) for c in jvm_cpus]))
    lines.append("pass_jit_cpu_s " + json.dumps([round(c, 3) for c in jit_cpus]))
    lines.append("pass_walls_s " + json.dumps(
        {k: [round(w, 3) for w in v] for k, v in walls.items()}))
    lines.append("pass_cpu_s " + json.dumps(
        {k: [round(w, 3) for w in v] for k, v in cpus.items()}))
    metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
               for k, v in e2e.items()}
    if args.trace:
        ledger = Ledger(tracer, read_event_log(work / "eventlog" / app_id))
        layers = per_layer(wl, ledger, cores, walls, cpus, jvm_cpus, jit_cpus,
                           ref_s, setups, probes, first_pass_s, sampler)
        if comp is not None:
            layers.update(comp.layers(ledger))
        lines += layer_table(ledger)
        lines += [f"{k:<36}{v:>14.4f}  {layer_unit(k)}"
                  for k, v in layers.items()]
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)}
                   for k in PER_LAYER}
        tracer.dump(results / f"{args.workload}-seed{args.seed}-spans.json")
    print("\n".join(lines), flush=True)

    result = {
        "correct": wrong == 0,
        # the warm-up passes, the timed ones, and the companion's two
        "attempted": 1 + WARM_PASSES + len(walls["untraced"])
        + len(walls["traced"])
        + 2 * (comp is not None),
        "failed": sum(w > 0 for w in checks),
        "metrics": metrics,
    }
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps({
         "host": host, "phases_s": phases, "pass_walls_s": walls,
         "pass_cpu_s": cpus, "pass_jvm_cpu_s": jvm_cpus,
         "pass_jit_cpu_s": jit_cpus, "pass_norm_cpu_s": norm_cpus,
         "ref_loop_s": speed.samples,
         "wrong_rows": wrong, "failed_task_ratio": failed_ratio,
         "peak_rss_mb": sampler.peak_total / MB,
         "peak_jvm_rss_mb": sampler.peak_jvm / MB,
         "python_processes": sampler.max_python,
         "cpu_steal_share": steal, **result,
     }, indent=1))
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    results = ROOT / ".bench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    try:
        result = run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
