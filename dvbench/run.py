"""docvision_spark benchmark: the crawl and recrawl extraction workloads.

Run from the root of a checkout:

    python3 dvbench/run.py --workload crawl --seed 1 --seconds 12 --trace 0

One process, one local Spark session sized to this machine
(``local[<nproc>]``), a closed loop: each repetition starts when the
previous one ends, until ``--seconds`` of timed repetitions have run. The
last stdout line is one JSON object {correct, attempted, failed, metrics};
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones, as BENCHMARK.json names them; the traced crawl run also runs the
jobs/curate.py chain once, for the curate layers. Everything the run writes stays under
``.dvbench/`` in the checkout: the input cache and a per-run directory for
the temp dir, Spark's local dirs and the event log.
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
import time

WORKLOADS = ("crawl", "recrawl")
# sessions started per run for setup_s (the first also launches the JVM)
SETUP_CYCLES = 3
# untimed warm-up per session: the first repetition is ~2.5x slower than
# the rest, and the next few still speed up
WARMUP_SECONDS = 16.0


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _driver_mem() -> str:
    """An eighth of RAM, 1-4 GB: the session shares the host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // 2**20 // 8))}g"


def _private_stdout():
    """Point fd 1 at stderr for everything this process and its children
    print (Spark, the JVM, Python workers) and return a private handle on
    the real stdout for the result line."""
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _docs_per_s(reps) -> float:
    """Docs completed per second of timed wall, over all repetitions. On 4
    vCPUs and ten seeds its spread across runs was about three quarters of
    that of the median over repetitions."""
    return sum(r.docs for r in reps) / sum(r.wall_s for r in reps)


class Bench:
    def __init__(self, args, root: str, run_dir: str, cpus: int):
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.cpus = cpus
        self.spark = None
        self.gateway = None
        self.sampler = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }

    # ------------------------------------------------------------ session --
    def start_session(self, extra: dict | None = None) -> tuple[float, ...]:
        """Session, py-files shipping and a first Python task, which also
        checks what the executors import. Returns the three times."""
        from pyspark import SparkContext

        import shipcheck
        from docvision_spark.pipeline.session import get_spark
        from docvision_spark.pipeline.shipping import ensure_py_files

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="dvbench",
                               extra_conf={**self.conf, **(extra or {})})
        t1 = time.perf_counter()
        ensure_py_files(self.spark)
        t2 = time.perf_counter()
        report = (self.spark.sparkContext.parallelize([0], 1)
                  .mapPartitions(shipcheck.imported_package_report).collect())
        t3 = time.perf_counter()
        shipcheck.verify(report[0], self.root)
        self.gateway = SparkContext._gateway
        return t1 - t0, t2 - t1, t3 - t2

    def stop(self) -> None:
        """Stop Spark, end the JVM and check that no process of the run
        (JVM, Python daemon or worker) outlives it."""
        try:
            if self.sampler is not None and self.spark is not None:
                self.sampler.sample()  # record the workers alive now
            if self.spark is not None:
                self.spark.stop()
        finally:
            # end the JVM even when stopping Spark failed, e.g. on a py4j
            # connection broken by SIGTERM
            self.spark = None
            if self.sampler is not None:
                self.sampler.close()
            if self.gateway is not None:
                self._end_jvm()

    def _end_jvm(self) -> None:
        proc = self.gateway.proc
        with contextlib.suppress(Exception):
            self.gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        seen = self.sampler.seen if self.sampler else set()
        deadline = time.monotonic() + 30
        alive = seen
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if _alive(p)}
            time.sleep(0.2)
        if alive:
            raise RuntimeError(f"processes of the run outlived it: {sorted(alive)}")

    # -------------------------------------------------------------- loop --
    @staticmethod
    def warmup(wl, credit_s: float = 0.0) -> None:
        """Untimed repetitions, at least one, until WARMUP_SECONDS less
        ``credit_s`` (warm-up work already done) have passed: worker
        imports, JIT and codegen."""
        t0 = time.perf_counter() - credit_s
        while True:
            wl.prepare()
            wl.run()
            wl.cleanup()
            if time.perf_counter() - t0 >= WARMUP_SECONDS:
                return

    def loop(self, wl, seconds: float, tracer=None) -> list:
        """Closed loop of repetitions until ``seconds`` of timed wall."""
        reps = []
        while not reps or sum(r.wall_s for r in reps) < seconds:
            wl.prepare()
            with self.sampler.active():
                with (tracer.span("rep") if tracer else contextlib.nullcontext()):
                    t0 = time.perf_counter()
                    res = wl.run()
                    wall = time.perf_counter() - t0
            reps.append(wl.check(wall, res))
            wl.cleanup()
        return reps

    # --------------------------------------------------------------- run --
    def run(self, result_out) -> int:
        from pyspark import cloudpickle

        import inputs
        import shipcheck
        import spans
        import workloads

        # executors cannot import the benchmark's modules: ship its
        # functions by value
        cloudpickle.register_pickle_by_value(shipcheck)
        cloudpickle.register_pickle_by_value(workloads)

        args = self.args
        with open(os.path.join(self.root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        t0 = time.perf_counter()
        cycles = [self.start_session() for _ in range(SETUP_CYCLES)]
        self.phases = {"setup": time.perf_counter() - t0,
                       "cycle0": sum(cycles[0])}
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.sampler = spans.MemSampler(jvm_pid)

        inp = inputs.Inputs(os.path.join(self.root, ".dvbench", "cache"),
                            args.workload, args.seed)
        inp.ensure(lambda: self.spark, self.cpus)
        self.phases["inputs"] = time.perf_counter() - t0 - self.phases["setup"]
        print(f"dvbench: inputs {inp.dir}, "
              + ("cached" if inp.cached else f"generated in {inp.gen_s:.1f} s"),
              file=sys.stderr)

        tracer = spans.Tracer(enabled=False)
        wl = workloads.ExtractWorkload(self.spark, inp,
                                       os.path.join(self.run_dir, "work"),
                                       tracer, resume=args.workload == "recrawl")
        t1 = time.perf_counter()
        credit = 0.0
        if wl.resume:
            # building the recrawl base, or its stand-in for cached inputs,
            # is a cold full extraction: it counts as warm-up
            if inp.cached:
                wl.extract_all()
            credit = inp.gen_s + time.perf_counter() - t1
        self.warmup(wl, credit)
        self.phases["warmup"] = time.perf_counter() - t1
        reps = self.loop(wl, args.seconds / 2 if args.trace else args.seconds)
        self.phases["loop"] = time.perf_counter() - t1 - self.phases["warmup"]
        checked = list(reps)
        if not args.trace:
            metrics = {
                "setup_s": _median([sum(c) for c in cycles]),
                "docs_per_s": _docs_per_s(reps),
                "peak_rss_mb": self.sampler.peak_total_mb,
                "stored_bytes_per_doc": _median(
                    [r.stored_bytes / r.stored_docs for r in reps]),
                "ok_frac": 1.0 - sum(r.failed for r in reps)
                / sum(r.attempted for r in reps),
            }
            declared = spec["end_to_end"]
        else:
            declared = spec["per_layer"]
            metrics = {**{m["name"]: 0.0 for m in declared},
                       **self.traced(wl, tracer, reps, cycles, inp, checked)}
        unknown = set(metrics) - {m["name"] for m in declared}
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        failed = sum(r.failed for r in checked)
        result = {
            "correct": failed == 0,
            "attempted": sum(r.attempted for r in checked),
            "failed": failed,
            "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                    "unit": m["unit"]} for m in declared},
        }
        print(f"dvbench: {args.workload} seed {args.seed}: repetition walls "
              f"{[round(r.wall_s, 3) for r in checked]}; phases "
              f"{ {k: round(v, 1) for k, v in self.phases.items()} }",
              file=sys.stderr)
        result_out.write(json.dumps(result) + "\n")
        result_out.flush()
        return 0

    def traced(self, wl, tracer, reps, cycles, inp, checked) -> dict:
        """The per-layer run: a second session with the event log on, spans
        around each layer call, then the layer probes. ``reps`` are the
        untraced repetitions; checked outputs are appended to ``checked``.
        Layers a workload does not exercise read 0."""
        import eventlog
        import inputs
        import workloads

        events_dir = os.path.join(self.run_dir, "events")
        self.start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        wl.spark = self.spark
        # the JVM is warm already: one repetition starts the new session's
        # Python workers
        self.warmup(wl, credit_s=WARMUP_SECONDS)
        tracer.enabled = True
        undo = wl.install_wrappers()
        self.sampler.reset()
        try:
            traced_reps = self.loop(wl, self.args.seconds / 2, tracer)
        finally:
            for u in undo:
                u()
        checked += traced_reps
        m: dict[str, float] = {
            "session.start_s": _median([c[0] for c in cycles]),
            "session.ship_s": _median([c[1] for c in cycles]),
            "session.first_task_s": _median([c[2] for c in cycles]),
            "input.gen_s": inp.gen_s,
            "mem.jvm_peak_mb": self.sampler.peak_jvm_mb,
            "mem.py_peak_mb": self.sampler.peak_py_mb,
        }
        traced_wall = _median([r.wall_s for r in traced_reps])
        m["trace.overhead_frac"] = (
            traced_wall / _median([r.wall_s for r in reps]) - 1.0)

        # Spark jobs of the traced repetitions, from the event log
        (log_name,) = os.listdir(events_dir)
        log = eventlog.EventLog.from_file(os.path.join(events_dir, log_name))
        roots = [s for s in tracer.roots if s.name == "rep"]
        n = len(roots)
        jobs = log.finished_jobs(roots[0].start, roots[-1].end)
        tracer.attach_jobs(jobs)
        for k, v in log.stage_metrics(jobs).items():
            if k != "records_read":
                per_rep = k not in ("task_skew", "peak_exec_mem_mb")
                m[f"spark.{k}"] = v / n if per_rep else v
        m["trace.unaccounted_frac"] = (sum(r.self_s for r in roots)
                                       / sum(r.dur for r in roots))

        def span_s(name: str) -> float:
            """Median over repetitions of the summed time of spans ``name``."""
            return _median([sum(s.dur for s in r.walk() if s.name == name)
                            for r in roots])

        m["job.s"] = traced_wall
        m["job.write_s"] = span_s("job.write")
        m["job.recount_s"] = span_s("job.count")
        m["job.lineage_s"] = span_s("job.lineage")
        m["job.commit_s"] = span_s("commit")
        lineage_jobs = [j for j in jobs if j["category"] == "lineage"]
        m["lineage.rows_scanned"] = log.stage_metrics(lineage_jobs)["records_read"] / n
        times = [t for r in traced_reps for t in r.kernel_times]
        m["kernel.busy_s"] = sum(times) / n
        q = statistics.quantiles(times, n=100, method="inclusive")
        m["kernel.doc_ms_p50"] = q[49] * 1e3
        m["kernel.doc_ms_p99"] = q[98] * 1e3
        m["kernel.doc_ms_max"] = max(times) * 1e3
        m["kernel.error_docs"] = sum(r.kernel_errors for r in traced_reps) / n
        m.update(wl.probes())
        m.update(workloads.kernel_layers(wl.pages, self.args.seed))
        m["extract.efficiency"] = _docs_per_s(reps) / (
            self.cpus * m["kernel.docs_per_s_core"])
        if wl.resume:
            m["resume.committed_rows"] = workloads.file_rows_bytes(
                sorted(wl.base_files))[0]
            return m

        # crawl: the Arrow-boundary split of the extract probe, then the
        # curate chain once over a planted sample of the last output
        m["extract.assembly_s"] = (m["extract.s"] - m["feed.s"]
                                   - m["kernel.busy_s"] / self.cpus)
        cur_in = os.path.join(self.run_dir, "curate_input")
        planted = inputs.curate_input(wl.out, self.args.seed, cur_in)
        cw = workloads.CurateWorkload(self.spark, cur_in, planted,
                                      os.path.join(self.run_dir, "work"), tracer)
        cw.prepare()
        with tracer.span("curate") as root:
            report = cw.run()
        checked.append(cw.check(root.dur, report))
        for stage in cw.STAGES:
            key = "curate.write_s" if stage == "write" else f"{stage}.s"
            m[key] = sum(s.dur for s in root.children if s.name == stage)
        m.update(cw.minhash_stats())
        cw.cleanup()
        return m


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "docvision_spark", "__init__.py")):
        print("dvbench: run from the root of a docvision_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".dvbench")
    # run directories of earlier runs that were killed
    for d in os.listdir(work) if os.path.isdir(work) else []:
        if d.startswith("run-") and not _alive(int(d[4:])):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "events", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, d))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    # a per-run temp dir: shipping.build_zip reuses any same-version zip it
    # finds there, and the JVM and Python workers write nowhere else
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": _driver_mem(),
        "JAVA_TOOL_OPTIONS": (os.environ.get("JAVA_TOOL_OPTIONS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
    })
    tempfile.tempdir = None
    # a terminated run still stops Spark and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result_out = _private_stdout()
    sys.path.insert(0, root)
    bench = Bench(args, root, run_dir, cpus)
    try:
        return bench.run(result_out)
    finally:
        try:
            bench.stop()
        finally:
            left = _end_children()
            shutil.rmtree(run_dir, ignore_errors=True)
            if left:
                raise RuntimeError(f"processes of the run outlived it: {left}")


def _end_children(grace_s: float = 30.0) -> list[int]:
    """Wait for every process below this one to end; kill those that have
    not after ``grace_s`` and return their pids."""
    import spans

    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        left = [p for p in spans.descendants(os.getpid()) if _alive(p)]
        if not left:
            return []
        time.sleep(0.2)
    for p in left:
        with contextlib.suppress(OSError):
            os.kill(p, 9)
    return left


if __name__ == "__main__":
    sys.exit(main())
