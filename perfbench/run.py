"""The repo benchmark: one production job per workload on ``local[<nproc>]``.

    python3 perfbench/run.py --workload ocr_checkpoint --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's seeded
input (cached under ``.perfbench_work/``), starts Spark through
``session.get_spark``, runs the job repeatedly for ``--seconds``,
grades every output against ``oracle.extract_table`` and prints one
JSON object as its last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate run that
records spans, enables Spark's event log and reports the per-layer
metrics.  The line before it is a diagnostic report (set-up seconds,
hardware control, per-rep times, unavailable metrics, tracing
overhead).  The exit code is non-zero on any output mismatch, and 2
when the package under test is not there.  See ``perfbench/README.md``.
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
import time
from contextlib import contextmanager

T_START = time.monotonic()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402  (needs ROOT on the path)
from perfbench.procs import RssSampler, descendants  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ocr_checkpoint", "curate_dedup")
N_BUCKETS = 4
#: one untimed rep before timing (JIT, file listing, Python workers),
#: then at least MIN_REPS timed ones; the median rep is reported
WARMUP_REPS = 1
MIN_REPS = 3
#: runs of each layer-extra job in a traced run; the median is reported
LAYER_REPS = 2
#: driver (JVM) heap: enough for these inputs; with the package's 8g
#: default (and still with 2g) G1 grew the heap by run-dependent
#: amounts, and peak_rss_mb spread 24% over ten seeds
DRIVER_MEM = "1g"
#: a third of bench.py's default work per worker: about 0.8 s on 4 cores
CONTROL_ITERS = 1_000_000
NEAR_DUP_JACCARD = 0.8  # curate's default near_dup_jaccard
#: the run's own time limit, counted from process start.  A run may
#: take 180 s; on a box slowed by other work, timed reps stop early
#: (at least one, the minimum recorded in the diagnostic line) and
#: layer extras are skipped (listed as unavailable) once it is spent,
#: so the result line and the teardown still land in time
BUDGET_S = 110
MB = eventlog.MB

END_TO_END_UNITS = {
    "docs_per_s": "1/s", "pages_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB", "ok_frac": "frac", "dup_recall": "frac",
    "clean_kept_frac": "frac",
}
PER_LAYER_UNITS = {
    "formats.render_us": "us", "formats.gray_us": "us",
    "formats.png_encode_us": "us", "formats.decode_spdf_us": "us",
    "recognizers.recognize_us": "us", "functions.html.strip_us": "us",
    "plans.fused.stage_s": "s", "plans.fused.assemble_s": "s",
    "plans.checkpoint.scan_ratio": "ratio", "plans.checkpoint.jobs": "count",
    "plans.checkpoint.write_mb": "MB", "plans.checkpoint.files_written": "count",
    "operators.dedup.pairs_s": "s", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_yield": "frac", "operators.dedup.max_bucket_rows": "count",
    "plans.curate.extract_passes": "count", "cache.stored_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_busy_frac": "frac", "spark.task_skew": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.python_sent_mb": "MB", "spark.python_recv_mb": "MB",
}


def _setup_env(cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and make the package importable in Python workers."""
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _spark_conf(event_dir: str | None) -> dict:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # -XX:-UsePerfData: the JVM's perf-counter file goes to /tmp
        # whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(WORK, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    return conf


def _warm_worker(batches):
    # runs in a Python worker: importing the package there is part of
    # set-up, so the timed jobs start with workers that have it loaded
    import google_vision_ocr_spark.plans.fused  # noqa: F401

    yield from batches


def left_s() -> float:
    """Seconds left of ``BUDGET_S``."""
    return BUDGET_S - (time.monotonic() - T_START)


class Session:
    """One Spark session at a time on one JVM; owns set-up and teardown."""

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.spark = None

    def start(self, event_dir: str | None = None) -> float:
        """``get_spark`` through the first completed Python-worker job.
        Returns the seconds it took."""
        from google_vision_ocr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=max(self.cores, 8),
                               extra_conf=_spark_conf(event_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        (self.spark.range(0, self.cores, 1, self.cores)
         .mapInArrow(_warm_worker, "id long").collect())
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # SIGTERM for 10 s, then SIGKILL for 10 s more
        deadline = time.monotonic() + 10
        while (left := descendants(os.getpid())) and time.monotonic() < deadline + 10:
            sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.  When
    enabled each span also names the Spark job group of the jobs it
    starts, so the event log maps back to it.  Disabled, it does
    nothing."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(str(rec["id"]), f"{self.run_id} {name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(str(parent["id"]), f"{self.run_id} {parent['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, root_ids) -> set[str]:
        """Job-group ids of the given spans and all their descendants."""
        ids = set(root_ids)
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return {str(i) for i in ids}


class Workload:
    """One workload: its input, its job and the grading of its output."""

    def __init__(self, name: str, input_path: str, expected: dict,
                 out_dir: str, corrupt: bool) -> None:
        self.name = name
        self.spark = None  # set to the current session's before each run
        self.n_docs = len(expected["rows"])
        self.input_path = input_path
        self.expected = expected
        self.out_dir = out_dir
        self.corrupt = corrupt
        self.curated = self.obs = self.report = self.first_report = None
        self.persisted: list = []  # frames curate persisted in the last rep
        self.facts: dict = {}
        self.files_written = 0

    def read_input(self):
        return self.spark.read.parquet(self.input_path)

    def run(self, tr: Tracer) -> float:
        """One job, timed from plan build to output committed."""
        if self.name == "ocr_checkpoint":
            from google_vision_ocr_spark.plans.checkpoint import run_checkpointed_extract

            shutil.rmtree(self.out_dir, ignore_errors=True)  # else it resumes
            t0 = time.perf_counter()
            with tr.span("plans.checkpoint.run_checkpointed_extract"):
                run_checkpointed_extract(self.spark, self.read_input(), self.out_dir,
                                         n_buckets=N_BUCKETS)
            return time.perf_counter() - t0

        from google_vision_ocr_spark import cache
        from google_vision_ocr_spark.plans.curate import curate, curation_report

        track = cache.track
        self.persisted = []

        def spy(df):  # records what curate persists, then defers to it
            self.persisted.append(df)
            return track(df)

        t0 = time.perf_counter()
        cache.track = spy
        try:
            with tr.span("plans.curate.curate"):
                self.curated, self.obs = curate(self.read_input())
        finally:
            cache.track = track
        with tr.span("plans.curate.curation_report"):
            self.report = curation_report(self.curated, self.obs)
        return time.perf_counter() - t0

    def check(self, full: bool):
        from perfbench import checks

        if self.name == "ocr_checkpoint":
            c = checks.check_checkpoint(self.out_dir, self.expected, N_BUCKETS, self.corrupt)
            self.files_written = sum(len(fs) for _, _, fs in os.walk(self.out_dir))
            return c
        # curate: the report must repeat exactly; the survivors are
        # graded url by url on the full check
        c = checks.Check()
        if self.first_report is None:
            self.first_report = self.report
        elif self.report != self.first_report:
            c.fail(1, f"curation report changed between reps: {self.report}")
        if full:
            rows = [r.asDict() for r in
                    self.curated.select("url", "text", "n_pages", "n_errors").collect()]
            full_check = checks.check_curate(rows, self.report, self.expected, self.corrupt)
            full_check.add(c)
            self.facts = full_check.facts
            c = full_check
        return c

    def release(self) -> None:
        from google_vision_ocr_spark import cache

        cache.release_all()


def timed_reps(wl: Workload, tracers: tuple, seconds: float, total) -> list:
    """Rounds of one rep per tracer, until ``seconds`` have passed and at
    least ``MIN_REPS`` reps ran, or until ``BUDGET_S`` would not hold
    another round.  Each rep is checked outside its timed region.
    Returns the per-rep seconds of each tracer."""
    walls: list[list[float]] = [[] for _ in tracers]
    t_end = time.perf_counter() + seconds
    n = 0
    while True:
        tr = tracers[n % len(tracers)]
        tr.run_id = f"{wl.name}-rep{n}"
        with tr.span("rep") as rec:
            walls[n % len(tracers)].append(wl.run(tr))
        if rec is not None:
            rec["timed"] = True
        n += 1
        enough = n >= MIN_REPS and time.perf_counter() >= t_end
        # a round and its checks take about two slowest reps per tracer
        no_time = left_s() < 2 * len(tracers) * max(max(w) for w in walls if w)
        last = n % len(tracers) == 0 and (enough or no_time)
        total.add(wl.check(full=last or wl.name != "curate_dedup"))
        if last:
            return walls
        wl.release()


def warm_up(wl: Workload, total) -> None:
    """Untimed reps (JIT, file listing), each graded."""
    for _ in range(WARMUP_REPS):
        wl.run(Tracer())
        total.add(wl.check(full=wl.name != "curate_dedup"))
        wl.release()


def measure(wl: Workload, session: Session, seconds: float, total):
    """The timed reps with the RSS sampler running.  Returns
    ``(rep seconds, peak tree RSS in MB)``."""
    # start the timed region from a collected heap, not from whatever
    # the warm-up reps left behind
    session.spark._jvm.System.gc()
    with RssSampler() as rss:
        [walls] = timed_reps(wl, (Tracer(),), seconds, total)
    return walls, rss.peak_mb


def run_untraced(wl, session, args, total, diag) -> dict:
    # one cold start: it launches the JVM, which a restart in the same
    # process would not
    setup = session.start()
    wl.spark = session.spark
    warm_up(wl, total)
    walls, peak_mb = measure(wl, session, args.seconds, total)
    diag["rep_s"] = walls
    n_pages = sum(r["n_pages"] for r in wl.expected["rows"].values())
    return {
        "docs_per_s": wl.n_docs / statistics.median(walls),
        "pages_per_s": n_pages / statistics.median(walls),
        "setup_s": setup,
        "peak_rss_mb": peak_mb,
        "ok_frac": 1 - total.failed / max(total.attempted, 1),
        # no planted duplicates outside curate_dedup: nothing to miss
        # and nothing dropped, so both read 1
        "dup_recall": wl.facts.get("dup_recall", 1.0),
        "clean_kept_frac": wl.facts.get("clean_kept_frac", 1.0),
    }


def run_traced(wl, session, args, total, diag, run_dir: str) -> dict:
    """Kernels without Spark, then a session with the event log on:
    untraced reps alternating with the same reps in spans, then the
    layer extras."""
    import pyarrow.parquet as pq

    from perfbench.layers import kernel_timings

    payloads = pq.read_table(wl.input_path, columns=["html"]).column("html").to_pylist()
    metrics, unavailable = kernel_timings(payloads, args.seed)
    event_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(event_dir)
    diag["setup_s"] = session.start(event_dir)
    wl.spark = session.spark
    warm_up(wl, total)
    tr = Tracer(session.spark.sparkContext)
    # alternating, warm-up and drift of the box fall on both kinds alike;
    # the event log is on for both, so the overhead is that of the spans
    # and job groups, not of the event log
    walls, traced = timed_reps(wl, (Tracer(), tr), args.seconds, total)
    diag["rep_s"] = walls
    diag["traced_rep_s"] = traced
    untraced_dps = wl.n_docs / statistics.median(walls)
    traced_dps = wl.n_docs / statistics.median(traced)
    diag["tracing_overhead"] = {
        "untraced_docs_per_s": untraced_dps,
        "traced_docs_per_s": traced_dps,
        "docs_per_s_lost": untraced_dps - traced_dps,
        "frac": 1 - traced_dps / untraced_dps,
    }
    metrics.update(layer_extras(wl, tr, unavailable, max(walls + traced)))
    wl.release()
    session.stop()  # flushes and closes the event log
    summary = eventlog.summarize(eventlog.read_events(event_dir))
    metrics.update(engine_metrics(wl, tr, summary, traced, session.cores, unavailable))
    for name in PER_LAYER_UNITS:
        if name not in metrics:
            metrics[name] = 0.0
            unavailable.setdefault(name, "not measured")
    diag["unavailable"] = unavailable
    with open(os.path.join(run_dir, "spans.json"), "w") as f:
        json.dump(tr.spans, f)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-output", action="store_true",
                    help="negative control: change one byte of one output "
                         "before grading it (the run must fail)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "google_vision_ocr_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: the package under test is not in {ROOT}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the finally below, so the JVM and the
    # Python workers are stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    _setup_env(cores)
    import bench
    from perfbench import inputs
    from perfbench.checks import Check

    t0 = time.perf_counter()
    input_path, expected = inputs.materialize(WORK, args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = Workload(args.workload, input_path, expected,
                  os.path.join(run_dir, "out"), args.corrupt_output)
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "docs": wl.n_docs, "inputs_s": time.perf_counter() - t0}
    # same-run hardware control, before the JVM exists
    diag["control_s"] = bench.hardware_control(workers=cores, iters=CONTROL_ITERS)
    diag["control"] = {"workers": cores, "iters": CONTROL_ITERS}

    session = Session(cores)
    total = Check()
    try:
        if args.trace:
            metrics = run_traced(wl, session, args, total, diag, run_dir)
        else:
            metrics = run_untraced(wl, session, args, total, diag)
    finally:
        session.shutdown()
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    diag["run_s"] = time.perf_counter() - t0
    diag["budget_left_s"] = left_s()
    diag["problems"] = total.problems
    print(json.dumps(diag))
    result = {
        "correct": total.failed == 0,
        "attempted": total.attempted,
        "failed": total.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_seconds(fn) -> float:
    times = []
    for _ in range(LAYER_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def layer_extras(wl: Workload, tr: Tracer, unavailable: dict, rep_s: float) -> dict:
    """Layer timings that need their own jobs, run in the traced session
    after the timed reps.  A group of them starts only while
    ``BUDGET_S`` holds another ``rep_s`` (the slowest rep); otherwise
    its metrics are listed as unavailable."""
    from google_vision_ocr_spark.plans.fused import extract_fused, process_items

    def skip(*names):
        for name in names:
            unavailable[name] = "skipped: the run's time budget was spent"

    out = {}
    tr.run_id = f"{wl.name}-layers"
    if left_s() > rep_s:
        with tr.span("plans.fused.process_items"):
            stage = _median_seconds(lambda: _noop(process_items(wl.read_input())))
        with tr.span("plans.fused.extract_fused"):
            full = _median_seconds(lambda: _noop(extract_fused(wl.read_input())))
        out["plans.fused.stage_s"] = stage
        out["plans.fused.assemble_s"] = full - stage
    else:
        skip("plans.fused.stage_s", "plans.fused.assemble_s")

    if wl.name != "curate_dedup":
        for name in ("operators.dedup.pairs_s", "operators.dedup.candidate_pairs",
                     "operators.dedup.pair_yield", "operators.dedup.max_bucket_rows",
                     "plans.curate.extract_passes", "cache.stored_mb"):
            unavailable[name] = f"{wl.name} does not run curate or dedup"
        return out

    from pyspark.sql import functions as F

    from google_vision_ocr_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sc = wl.spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    out["cache.stored_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / MB
    if not wl.persisted:
        unavailable["operators.dedup.pairs_s"] = "curate persisted no frame"
        return out
    if left_s() <= rep_s:
        skip("operators.dedup.pairs_s", "operators.dedup.candidate_pairs",
             "operators.dedup.pair_yield", "operators.dedup.max_bucket_rows")
        return out
    deduped = wl.persisted[-1]
    with tr.span("operators.dedup.minhash_lsh_pairs"):
        out["operators.dedup.pairs_s"] = _median_seconds(
            lambda: _noop(minhash_lsh_pairs(deduped, id_col="url", text_col="text")))
        pairs = minhash_lsh_pairs(deduped, id_col="url", text_col="text")
        counts = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("est_jaccard") >= NEAR_DUP_JACCARD).cast("int")).alias("hits"),
        ).collect()[0]
    n = int(counts["n"])
    out["operators.dedup.candidate_pairs"] = n
    out["operators.dedup.pair_yield"] = int(counts["hits"] or 0) / n if n else 0.0
    with tr.span("operators.dedup.minhash_banded"):
        banded = minhash_banded(minhash_signatures(deduped, id_col="url", text_col="text"),
                                id_col="url")
        out["operators.dedup.max_bucket_rows"] = int(
            banded.groupBy("band", "band_hash").count().agg(F.max("count")).collect()[0][0])
    return out


def engine_metrics(wl: Workload, tr: Tracer, summary: dict, walls: list,
                   cores: int, unavailable: dict) -> dict:
    """Spark engine counters per timed rep, from the event log."""
    reps = [s["id"] for s in tr.spans if s.get("timed")]
    groups = tr.subtree(reps)
    tot = eventlog.combine([summary[g] for g in groups if g in summary])
    n = len(reps)
    out = {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.executor_run_s": tot["executor_run_s"] / n,
        "spark.executor_cpu_s": tot["executor_cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.core_busy_frac": tot["executor_run_s"] / (sum(walls) * cores),
        "spark.task_skew": tot["task_skew"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n,
        "spark.spill_mb": tot["spill_mb"] / n,
        "spark.python_sent_mb": tot["python_sent_mb"] / n,
        "spark.python_recv_mb": tot["python_recv_mb"] / n,
    }
    if wl.name == "ocr_checkpoint":
        out["plans.checkpoint.jobs"] = tot["jobs"] / n
        out["plans.checkpoint.scan_ratio"] = tot["input_records"] / n / wl.n_docs
        out["plans.checkpoint.write_mb"] = tot["output_mb"] / n
        out["plans.checkpoint.files_written"] = wl.files_written
    else:
        for name in ("plans.checkpoint.scan_ratio", "plans.checkpoint.jobs",
                     "plans.checkpoint.write_mb", "plans.checkpoint.files_written"):
            unavailable[name] = f"{wl.name} does not run the checkpointed job"
    if wl.name == "curate_dedup":
        # the fused stage is the only mapInArrow in curate + report
        out["plans.curate.extract_passes"] = tot["map_in_arrow_stages"] / n
    return out


if __name__ == "__main__":
    sys.exit(main())
