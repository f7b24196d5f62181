"""The repository's benchmark: the extraction and curation jobs end to end.

Run from the repository root:

    python3 perfbench/run.py --workload extract_bench_mix --seed 1 \\
        --seconds 5 --trace 0

Load model: closed loop, one client.  This process is the only client;
it starts a job run (``jobs/run_extract.py`` or ``jobs/run_curate.py``
through ``main()``) only after the previous one has finished, on a
``local[<cores>]`` session.  Inputs are generated from ``--seed`` and
the jobs only see the generated parquet tables.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (event log on, kernel wrappers, each layer alone).
The last line of standard output is one JSON object; the exit code is
non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
REQUIRED = ("jobs/run_extract.py", "jobs/run_curate.py",
            "webtext_extraction_spark/session.py")

NUM_BUCKETS = 64
HEAP = "2g"
SETUP_REPS = 3
JACCARD = 0.7
CURATE_FLAGS = ["--gopher-gate", "--max-dup-frac", "0.5", "--dedup", "neardup",
                "--jaccard", str(JACCARD), "--scrub-pii"]

# name -> (job, generator name, size, warm-up job runs).  Sizes keep
# one run within the benchmark's time budget on a 4-core host; the
# curation job's ~40 small Spark jobs keep getting faster for two runs
# after a cold start, so it warms up twice.
WORKLOADS = {
    "extract_bench_mix": ("extract", "bench_mix", 120, 1),
    "extract_paragraph_storm": ("extract", "paragraph_storm", 36, 1),
    "curate_neardup": ("curate", "neardup_documents", 600, 2),
}
# the traced run reports every layer on every workload: the layers of
# the job a workload does not run are measured on a small companion
# input generated from the same seed
COMPANION_CONVERSATIONS = 40
COMPANION_DOCS = 300


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # executor Python workers inherit this when the JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


class Bench:
    """One benchmark run: owns the work directory, the Spark session and
    the no-Spark control pool."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.job, self.gen_name, self.size, self.warm_ups = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = len(os.sched_getaffinity(0))  # what `nproc` reports
        self.spark = None
        self.control = None
        self.failures: list = []
        self.curate_ids = None  # the first curate run's output ids
        self.attempted = 0
        self.failed = 0
        self._runs = 0

    # -- inputs -----------------------------------------------------------

    def make_inputs(self) -> dict:
        import workloads

        if self.job == "extract":
            table, shape = getattr(workloads, self.gen_name)(self.seed, self.size)
            self.set_transcripts(table, "input")
        else:
            table, shape, self.exact_groups = workloads.neardup_documents(
                self.seed, self.size
            )
            self.docs_dir = os.path.join(self.work, "input")
            self.input_bytes = workloads.write_parquet(table, self.docs_dir)
            self.input_rows = table.num_rows
        shape["input_bytes"] = self.input_bytes
        return shape

    def set_transcripts(self, table, name: str) -> None:
        import workloads

        self.transcripts_dir = os.path.join(self.work, name)
        self.input_bytes = workloads.write_parquet(table, self.transcripts_dir)
        self.input_rows = table.num_rows
        cols = [table.column(c).to_pylist()
                for c in ("conv_id", "turn_idx", "text", "tool")]
        self.control_rows = list(zip(*cols))

    def run_control(self) -> None:
        """The expected extract output, from the no-Spark control pool."""
        from control import ControlPool, digest

        if self.control is None:
            self.control = ControlPool(self.cores)
        results, _ = self.control.run(self.control_rows)
        self.expected_digest = digest(results)

    # -- session ------------------------------------------------------------

    def start_session(self, event_log: str | None = None):
        from webtext_extraction_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            # a fixed-size heap, all of it touched at JVM start, so peak
            # RSS tracks the rest of the footprint instead of how much of
            # the heap the collector happened to touch in a short run
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData"
            ),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        _forget_java_udfs()
        self.warm_workers()
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            from pyspark.sql import SparkSession

            SparkSession.stop(self.spark)
            self.spark = None

    def warm_workers(self) -> None:
        """One extraction task per core, so every Python worker has
        imported the engine before anything is timed."""
        from pyspark.sql import functions as F

        from webtext_extraction_spark.operators.extraction import extract_turns

        df = self.spark.range(self.cores, numPartitions=self.cores).select(
            F.col("id").cast("string").alias("conv_id"),
            F.lit("<main><p>warm up</p></main>").alias("text"),
            F.lit("fetch").alias("tool"),
        )
        extract_turns(df).agg(F.sum(F.length("extracted_text"))).collect()

    # -- one job run ------------------------------------------------------------

    def job_run(self, sampler=None) -> dict:
        """Runs the workload's job once into a fresh output directory,
        checks the output, and returns its figures."""
        from pyspark.sql import SparkSession

        self._runs += 1
        out = os.path.join(self.work, f"out{self._runs}")
        sc = self.spark.sparkContext
        group = f"perfbench-{self._runs}"
        sc.setJobGroup(group, "perfbench job run")
        argv, main = self._job_args(out)
        stop = SparkSession.stop
        SparkSession.stop = lambda self: None  # the jobs stop their session
        error = None
        try:
            with contextlib.redirect_stdout(sys.stderr), sampler or contextlib.nullcontext():
                t0 = time.time()
                try:
                    main(argv)
                except Exception as exc:  # noqa: BLE001 - counted as a failed run
                    error = repr(exc)
                t1 = time.time()
        finally:
            SparkSession.stop = stop
            sc.setLocalProperty("spark.jobGroup.id", None)
        run = {"job_s": t1 - t0, "t0": t0, "t1": t1}
        run["attempted_tasks"], run["failed_tasks"] = self._task_counts(group)
        if error is None:
            error = self._check(out, run)
        run["ok"] = error is None
        if error is not None:
            self.failures.append(error)
        shutil.rmtree(out, ignore_errors=True)
        return run

    def _job_args(self, out: str):
        if self.job == "extract":
            from jobs import run_extract

            return (["--input", self.transcripts_dir, "--output", out,
                     "--num-buckets", str(NUM_BUCKETS)], run_extract.main)
        from jobs import run_curate

        return (["--input", self.docs_dir, "--output", out] + CURATE_FLAGS,
                run_curate.main)

    def _task_counts(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        done = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    done += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return done + failed, failed

    # -- output checks --------------------------------------------------------

    def _check(self, out: str, run: dict) -> str | None:
        if self.job == "extract":
            return self._check_extract(out, run)
        return self._check_curate(out, run)

    def _check_extract(self, out: str, run: dict) -> str | None:
        from pyspark.sql import functions as F

        from control import digest
        from webtext_extraction_spark.kernel.tracked import reconstruct

        data_dir = os.path.join(out, "data")
        run["output_files"] = _count_files(data_dir)
        data = self.spark.read.parquet(data_dir)
        rows = data.select("conv_id", "turn_idx", F.md5("extracted_text"),
                           "status", "strategy").collect()
        if digest(rows) != self.expected_digest:
            return "extract output digest differs from the no-Spark control"
        lineage = self.spark.read.parquet(os.path.join(out, "_lineage")).collect()
        buckets = [r["bucket"] for r in lineage]
        bucket_dirs = [d for d in os.listdir(data_dir) if d.startswith("bucket=")]
        if len(set(buckets)) != len(buckets) or len(buckets) != len(bucket_dirs):
            return "lineage does not hold exactly one row per written bucket"
        if sum(r["rows"] for r in lineage) != self.input_rows:
            return "lineage rows do not sum to the input turns"
        sample = self.control_rows[:: max(1, len(self.control_rows) // 24)]
        payloads = {(c, t): p for c, t, p, _ in sample}
        keys = [f"{c}#{t}" for c, t in payloads]
        picked = data.filter(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).isin(keys)
        ).select("conv_id", "turn_idx", "extracted_text", "spans").collect()
        for r in picked:
            spans = [{"start": s["start"], "end": s["end"], "kind": s["kind"]}
                     for s in r["spans"]]
            payload = payloads[(r["conv_id"], r["turn_idx"])] or ""
            if reconstruct(payload, r["extracted_text"], spans) != r["extracted_text"]:
                return f"spans do not reconstruct {r['conv_id']}#{r['turn_idx']}"
        if len(picked) != len(payloads):
            return "span sample rows missing from the output"
        return None

    def _check_curate(self, out: str, run: dict) -> str | None:
        run["output_files"] = _count_files(out)
        ids = frozenset(r[0] for r in self.spark.read.parquet(out).select("doc_id").collect())
        if self.curate_ids is None:
            self.curate_ids = ids
        elif ids != self.curate_ids:
            return "curate output id set differs between runs"
        for group in self.exact_groups:
            if len(ids.intersection(group)) != 1:
                return f"exact-duplicate group {group} left {len(ids.intersection(group))} rows"
        return None

    # -- the two kinds of run ---------------------------------------------------

    def setup(self, event_log: str | None = None, reps: int = 1) -> float:
        """Session start and worker warm-up ``reps`` times (restarting the
        SparkContext in between; the first start also launches the JVM),
        then the warm-up job runs.  Returns the median start time plus
        the warm-up runs' time."""
        starts = []
        for rep in range(reps):
            if rep:
                self.stop_session()
            t0 = time.perf_counter()
            self.start_session(event_log)
            starts.append(time.perf_counter() - t0)
        warm = [self.job_run() for _ in range(self.warm_ups)]
        if not all(r["ok"] for r in warm):
            raise RuntimeError(f"warm-up job run failed: {self.failures[-1]}")
        warm_s = [r["job_s"] for r in warm]
        print(json.dumps({"session_start_s": starts, "warm_up_job_s": warm_s}),
              file=sys.stderr)
        return statistics.median(starts) + sum(warm_s)

    def timed_runs(self, seconds: float, sampler=None) -> list:
        runs = []
        t_start = time.perf_counter()
        while not runs or time.perf_counter() - t_start < seconds:
            runs.append(self.job_run(sampler))
        self.attempted += len(runs) + sum(r["attempted_tasks"] for r in runs)
        self.failed += sum(not r["ok"] for r in runs) + sum(r["failed_tasks"] for r in runs)
        return runs

    def end_to_end(self) -> dict:
        from rss import RssSampler

        setup_s = self.setup(reps=SETUP_REPS)
        sampler = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        runs = self.timed_runs(self.seconds, sampler)
        job_s = statistics.median(r["job_s"] for r in runs)
        ok_runs = [r for r in runs if r["ok"]]
        files = [r["output_files"] for r in ok_runs] or [0]
        print(json.dumps({"job_s_samples": [r["job_s"] for r in runs]}), file=sys.stderr)
        return {
            "job_s": (job_s, "s"),
            "rows_per_s": (self.input_rows / job_s, "rows/s"),
            "output_files": (statistics.median(files), "files"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "setup_s": (setup_s, "s"),
            "ok_frac": (1 - self.failed / max(self.attempted, 1), "ratio"),
        }

    def traced(self) -> dict:
        import layers
        import workloads
        from eventlog import EventLog

        self.setup()
        plain = self.timed_runs(self.seconds / 2)
        self.stop_session()
        log_dir = os.path.join(self.work, "eventlog")
        self.start_session(log_dir)
        traced = self.timed_runs(self.seconds / 2)
        metrics = {"trace.overhead_frac": _median_job_s(traced) / _median_job_s(plain) - 1}

        own = self.job
        if own == "curate":
            metrics.update(layers.curation_layers(self.spark, self.docs_dir, JACCARD))
            # companion transcripts for the extraction layers
            table, _ = workloads.bench_mix(self.seed, COMPANION_CONVERSATIONS)
            self.set_transcripts(table, "companion")
            self.run_control()
            self.job = "extract"
            self.timed_runs(0)  # warm-up of the companion job
            ext_runs = self.timed_runs(0)
        else:
            ext_runs = traced
        metrics.update(self._extraction_metrics(ext_runs, EventLog(log_dir)))
        if own == "extract":
            table, _, self.exact_groups = workloads.neardup_documents(
                self.seed, COMPANION_DOCS
            )
            self.docs_dir = os.path.join(self.work, "companion")
            workloads.write_parquet(table, self.docs_dir)
            metrics.update(layers.curation_layers(self.spark, self.docs_dir, JACCARD))
            self.job = "curate"
            # the job count does not depend on warm-up: one cold run
            cur_runs = self.timed_runs(0)
        else:
            cur_runs = traced
        log = EventLog(log_dir)
        metrics["curate.spark_jobs"] = statistics.median(
            len(log.window(r["t0"] * 1000, r["t1"] * 1000).jobs) for r in cur_runs
        )
        if own == "curate":
            own_stats = [log.window(r["t0"] * 1000, r["t1"] * 1000) for r in traced]
            metrics.update(_curate_spark_stats(own_stats))
        self.job = own
        units = _per_layer_units()
        return {k: (v, units[k]) for k, v in metrics.items()}

    def _extraction_metrics(self, runs: list, log) -> dict:
        import layers

        per_run = []
        for r in runs:
            window = log.window(r["t0"] * 1000, r["t1"] * 1000)
            per_run.append(window.extraction_phases(
                r["job_s"], self.input_bytes, r["output_files"]
            ))
        metrics = {k: statistics.median(p[k] for p in per_run) for k in per_run[0]}
        metrics.update(layers.extraction_layers(
            self.spark, self.transcripts_dir, self.control, self.control_rows
        ))
        sample = [(p, t) for _, _, p, t in self.control_rows[::3]]
        metrics.update(layers.kernel_layers(sample))
        return metrics

    def close(self) -> None:
        self.stop_session()
        if self.control is not None:
            self.control.close()
            self.control = None


def _forget_java_udfs() -> None:
    """A Python UDF caches its Java function, which holds the accumulator
    of the SparkContext it was first used on.  After this process starts
    a new context, module-level UDFs must build theirs again."""
    for name, module in list(sys.modules.items()):
        if name.startswith(("webtext_extraction_spark", "layers")):
            for value in vars(module).values():
                udf = getattr(value, "_unwrapped", None)
                if udf is not None:
                    udf._judf_placeholder = None


PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 10


def _become_subreaper() -> None:
    """Descendants whose parent ends (Python workers or shell-outs of the
    JVM) are re-parented to this process instead of init, so
    ``_stop_processes`` can find them and wait for them."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_jvm() -> None:
    """Ends the py4j gateway JVM and waits for it.  The JVM exits on EOF
    of its standard input; left alone it would outlive this process for
    as long as its shutdown hooks take."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=STOP_GRACE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop_processes() -> None:
    """Stops every process this one started and waits until each has
    ended: the JVM, the control pool's resource tracker, then whatever
    child is left (re-parented orphans included), SIGTERM first and
    SIGKILL after a grace period."""
    from multiprocessing import resource_tracker

    from rss import children

    if "pyspark" in sys.modules:
        _stop_jvm()
    # the pool's semaphores unlink themselves when collected; collect
    # them before the tracker goes, or it unlinks them first
    gc.collect()
    with contextlib.suppress(Exception):
        resource_tracker._resource_tracker._stop()
    while kids := children(os.getpid()):
        for pid in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGTERM)
        deadline = time.monotonic() + STOP_GRACE_S
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(pid, os.WNOHANG) == (0, 0):
                    if time.monotonic() > deadline:
                        os.kill(pid, signal.SIGKILL)
                        os.waitpid(pid, 0)
                        break
                    time.sleep(0.05)


def _exit_on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)


def _median_job_s(runs: list) -> float:
    return statistics.median(r["job_s"] for r in runs)


def _curate_spark_stats(windows: list) -> dict:
    def med(key):
        return statistics.median(key(w) for w in windows)

    def task_s(w):
        return sorted((t["finish"] - t["launch"]) / 1000 for t in w.tasks)

    return {
        "spark.jobs": med(lambda w: len(w.jobs)),
        "spark.tasks": med(lambda w: len(w.tasks)),
        "spark.task_p50_s": med(lambda w: statistics.median(task_s(w))),
        "spark.task_max_s": med(lambda w: task_s(w)[-1]),
    }


def _count_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, names in os.walk(path) for f in names
    )


def _per_layer_units() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        shape = bench.make_inputs()
        print(json.dumps({"workload": args.workload, "seed": args.seed, "shape": shape}),
              file=sys.stderr)
        if bench.job == "extract":
            bench.run_control()
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        try:
            bench.close()
        finally:
            _stop_processes()
            shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not bench.failures,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for failure in bench.failures:
        print(f"perfbench: output check failed: {failure}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
