"""tzengine benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run stages its seeded input (reused
across runs from perfbench/_work/stage), starts a host-sized Spark
session, builds the engine, checks a seeded sample against an oracle,
then repeats the workload's job for ``--seconds`` of job time, checking
each job's output. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, with
tracing off. ``--trace 1`` reports its per-layer metrics: spans around
the calls into each layer, Spark's task and Python-UDF metrics of the
timed actions (from the UI's REST endpoint, enabled in this mode only),
and the layer ablations — a JVM-only action, zero-compute Arrow UDFs
and single-core kernel calls. Spans, per-job times, host facts and the
end-to-end metric each layer metric should move go to
perfbench/_work/traces/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# repetitions of each ablation action and kernel call in the traced run
ABLATION_REPS = 3

# Which end-to-end metric each per-layer metric should move, and on
# which workload. Written into every trace file.
LAYER_TAGS = {
    "session.start_s": "context only; excluded from setup_s",
    "stage_s": "context only; input staging, excluded from setup_s",
    "index.build_s": "setup_s on nearest_coastline",
    "index.mb": "setup_s and worker_peak_rss_mb on nearest_coastline",
    "index.geojsonl_parse_s": "setup_s on nearest_coastline",
    "index.pieces": "descriptive; changes only with the workload",
    "index.segments": "descriptive; changes only with the workload",
    "index.boundary_cell_share": "descriptive; changes only with the workload",
    "engine.plan_s": "rows_per_s on all workloads",
    "engine.first_batch_s": "setup_s on all workloads",
    "engine.residual_s": "rows_per_s on assign_world",
    "spark.scan_s": "rows_per_s on assign_world",
    "spark.task_s": "rows_per_s on all workloads",
    "spark.gc_s": "rows_per_s on all workloads",
    "spark.max_task_s": "rows_per_s on all workloads, most on tag_images_commit",
    "arrow.roundtrip_s": "rows_per_s on assign_world and nearest_coastline",
    "arrow.bytes_to_python": "rows_per_s on all workloads",
    "arrow.bytes_from_python": "rows_per_s on all workloads",
    "arrow.worker_boot_s": "rows_per_s and setup_s on all workloads",
    "arrow.worker_run_s": "rows_per_s and setup_s on all workloads",
    "probe.assign_rows_per_s_core": "rows_per_s on assign_world",
    "probe.candidates_per_row": "rows_per_s on assign_world",
    "probe.boundary_candidate_share": "rows_per_s on assign_world",
    "probe.multi_match_share": "rows_per_s on assign_world",
    "probe.distance_rows_per_s_core": "rows_per_s on nearest_coastline",
    "probe.knn_rows_per_s_core": "rows_per_s on nearest_coastline",
    "probe.knn_evals_per_row": "rows_per_s on nearest_coastline",
    "probe.batch_peak_alloc_mb": "worker_peak_rss_mb on nearest_coastline",
    "tables.write_s": "rows_per_s on tag_images_commit",
    "tables.stage_write_s": "rows_per_s on tag_images_commit",
    "tables.promote_s": "rows_per_s on tag_images_commit",
    "tables.bytes_written": "write_amplification and rows_per_s on tag_images_commit",
    "tables.files_written": "write_amplification and rows_per_s on tag_images_commit",
    "tables.units": "write_amplification and rows_per_s on tag_images_commit",
    "tables.unit_skew": "write_amplification and rows_per_s on tag_images_commit",
    "write_amplification": "end-to-end count of tag_images_commit, reported traced",
    "failed_share": "end-to-end count of every workload, reported traced",
    "trace.overhead": "untraced over traced rows_per_s, per workload",
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


_T0 = time.perf_counter()


def log(msg) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def host_info() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "tzengine")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    src.update(fn.encode() + f.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(),
        "tzengine_sha256": src.hexdigest(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout; None when it is not a git repository (the
    hash of the tzengine sources identifies the code then)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def start_session(host: dict, traced: bool):
    """get_spark defaults with cores from nproc and the JVM heap sized
    from host memory; every temporary file stays under perfbench/_work."""
    from tzengine.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    heap_mb = int(min(8192, max(1024, host["mem_total_mb"] * 0.2)))
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark("perfbench", extra_conf=conf)
    for mod in ("harness.py", "workloads.py"):
        spark.sparkContext.addPyFile(os.path.join(HERE, mod))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it and for every
    Python worker it started."""
    from pyspark import SparkContext

    from harness import python_worker_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while python_worker_pids() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in python_worker_pids():
        os.kill(pid, 9)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, host, spark, tracer):
        from harness import StageCache
        from workloads import WORKLOADS, Context

        self.args = args
        self.host = host
        self.spark = spark
        self.tracer = tracer
        self.run_dir = os.path.join(
            WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        ctx = Context(spark, host["nproc"], args.seed,
                      StageCache(os.path.join(WORK, "stage")))
        self.wl = WORKLOADS[args.workload](ctx)
        self.jobs: list[dict] = []
        self.sample_problems: list[str] = []

    def out_dir(self, tag: str) -> str:
        path = os.path.join(self.run_dir, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self):
        """Engine construction plus a warm-up job over one Arrow batch
        of the input: worker start, broadcast fetch and unpickle."""
        wl = self.wl
        t0 = time.perf_counter()
        with self.tracer.span("index.build"):
            eng = wl.build()
        with self.tracer.span("engine.first_batch"):
            wl.action(wl.plan(eng, wl.warmup_df()), self.out_dir("warmup"))
        return eng, time.perf_counter() - t0

    def burn_in(self, eng) -> None:
        """Untimed full-size jobs for the workload's ``burn_in_s``."""
        wl, t0 = self.wl, time.perf_counter()
        with self.tracer.span("burn_in"):
            while time.perf_counter() - t0 < wl.burn_in_s:
                wl.action(wl.plan(eng, wl.input_df()), self.out_dir("burn-in"))

    def job(self, eng, traced: bool) -> dict:
        """One timed job: the operator calls and the action. A traced job
        runs under a job description of its own, cleared before the
        output check, so that Spark's metrics for it cover the job alone.
        The check, reading the commit records and removing the output run
        outside the timing."""
        wl, sc = self.wl, self.spark.sparkContext
        n = len(self.jobs)
        out = self.out_dir(f"job-{n}")
        desc = f"perfbench-job-{n}" if traced else None
        self.tracer.enabled = traced
        sc.setJobDescription(desc)
        result, problems = None, []
        t0 = t1 = time.perf_counter()
        try:
            with self.tracer.span("job", job=n):
                with self.tracer.span("engine.plan"):
                    planned = wl.plan(eng, wl.input_df())
                t1 = time.perf_counter()
                with self.tracer.span("engine.action"):
                    result = wl.action(planned, out)
        except Exception:  # a failed job counts; the run goes on
            problems = ["raised: " + traceback.format_exc()]
        finally:
            wall = time.perf_counter() - t0
            sc.setJobDescription(None)
        if not problems:
            try:
                problems = wl.check(result, out)
            except Exception:
                problems = ["check raised: " + traceback.format_exc()]
        for p in problems:
            log(f"job {n} FAILED CHECK: {p}")
        job = {"job": n, "wall_s": wall, "action_s": t0 + wall - t1,
               "traced": traced, "desc": desc, "problems": problems,
               "write": {} if problems else wl.write_stats(out)}
        shutil.rmtree(out, ignore_errors=True)
        self.jobs.append(job)
        return job

    def timed_jobs(self, eng, seconds: float) -> list[dict]:
        """Untraced jobs until ``seconds`` of job time have passed."""
        jobs: list[dict] = []
        while sum(j["wall_s"] for j in jobs) < seconds:
            jobs.append(self.job(eng, traced=False))
        return jobs

    def rows_per_s(self, jobs) -> float:
        ok = [self.wl.rows / j["wall_s"] for j in jobs if not j["problems"]]
        return median(ok)

    # -- end-to-end (untraced) -------------------------------------------------

    def end_to_end(self) -> dict:
        from harness import WorkerRssSampler

        setups = []
        for _ in range(self.wl.setup_reps):
            eng, s = self.setup()
            setups.append(s)
        log(f"setup_s samples {[round(s, 3) for s in setups]}")
        self.sample_problems = self.wl.sample_check(eng)
        log("sample checked")
        self.burn_in(eng)
        with WorkerRssSampler() as rss:
            jobs = self.timed_jobs(eng, self.args.seconds)
        log(f"worker peak RSS kB by pid {rss.hwm_kb}, counted {sorted(rss.ran)}")
        return {
            "rows_per_s": self.rows_per_s(jobs),
            "setup_s": median(setups),
            "worker_peak_rss_mb": rss.peak_mb,
        }

    # -- per-layer (traced) ----------------------------------------------------

    def per_layer(self, session_start_s: float, stage_s: float) -> dict:
        from harness import SparkRest

        wl, tr = self.wl, self.tracer
        m = {"session.start_s": session_start_s, "stage_s": stage_s}
        eng, _ = self.setup()
        m["index.build_s"] = tr.total("index.build")
        m["engine.first_batch_s"] = tr.total("engine.first_batch")
        # after the first build, so that the parse alone runs warm
        with tr.span("index.geojsonl_parse"):
            m["index.geojsonl_parse_s"] = wl.parse_zones_s()
        idx = eng.idx
        m["index.mb"] = idx.nbytes() / 1e6
        m["index.pieces"] = float(idx.n_pieces)
        m["index.segments"] = float(len(idx.seg_a))
        m["index.boundary_cell_share"] = float((~idx.ent_interior).mean())
        with tr.span("check.sample"):
            self.sample_problems = wl.sample_check(eng)
        self.burn_in(eng)

        # trace.overhead: plain and traced jobs in ABBA blocks until the
        # traced ones reach --seconds, so that drift in host speed falls
        # on both alike. Spark's status listeners record every job with
        # the UI off as well; the UI adds only its idle web server.
        plain, traced = [], []
        while sum(j["wall_s"] for j in traced) < self.args.seconds:
            for mode in (False, True, True, False):
                (traced if mode else plain).append(self.job(eng, traced=mode))
        tr.enabled = True
        traced_rps = self.rows_per_s(traced)
        m["trace.overhead"] = (
            self.rows_per_s(plain) / traced_rps if traced_rps else 0.0)

        ok = [j for j in traced if not j["problems"]]
        rest = SparkRest(self.spark.sparkContext)
        per_job = [rest.metrics(j["desc"]) for j in ok]
        for key in SparkRest.KEYS:
            m[key] = median([p[key] for p in per_job])
        action_s = median([j["action_s"] for j in ok])
        m["engine.plan_s"] = tr.median("engine.plan")

        # the commit's own record of each traced job; 0 without a write
        writes = [j["write"] for j in ok]
        for key in ("tables.stage_write_s", "tables.bytes_written",
                    "tables.files_written", "tables.units",
                    "tables.unit_skew", "write_amplification"):
            m[key] = median([w[key] for w in writes if w])
        m["tables.write_s"] = median([j["action_s"] for j, w in zip(ok, writes) if w])
        m["tables.promote_s"] = median([
            j["action_s"] - w["tables.stage_write_s"]
            for j, w in zip(ok, writes) if w])

        m["spark.scan_s"] = self.ablation("spark.scan", wl.jvm_only, eng)
        m["arrow.roundtrip_s"] = self.ablation("arrow.roundtrip", wl.zero_udf, eng)
        kernel_s_per_row = self.kernels(eng, m)
        kernel_est = wl.rows * kernel_s_per_row / self.host["nproc"]
        m["engine.residual_s"] = action_s - m["arrow.roundtrip_s"] - kernel_est
        failed = sum(1 for j in self.jobs if j["problems"])
        m["failed_share"] = failed / len(self.jobs)
        return m

    def ablation(self, name, fn, eng) -> float:
        fn(eng, self.out_dir("ablation-warmup"))
        walls = []
        for i in range(ABLATION_REPS):
            out = self.out_dir(f"ablation-{i}")
            with self.tracer.span(name):
                t0 = time.perf_counter()
                fn(eng, out)
                walls.append(time.perf_counter() - t0)
            shutil.rmtree(out, ignore_errors=True)
        return median(walls)

    def kernels(self, eng, m) -> float:
        """Single-core kernel calls on one batch of the workload's own
        points; returns the seconds per row of the kernels the job runs."""
        import tracemalloc

        import numpy as np
        from tzengine import probe

        wl, idx, tr = self.wl, eng.idx, self.tracer
        lats, lons = wl.kernel_points()
        n = len(lats)

        def timed(name, fn):
            walls, out = [], None
            for _ in range(ABLATION_REPS):
                with tr.span(name):
                    t0 = time.perf_counter()
                    out = fn()
                    walls.append(time.perf_counter() - t0)
            return median(walls), out

        t_first, (_v, first, _l) = timed(
            "probe.first", lambda: probe.probe_arrow(
                idx, lats, lons, mode=wl.mode, with_all=False))
        t_all, _ = timed("probe.all", lambda: probe.probe_arrow(
            idx, lats, lons, mode=wl.mode, with_all=True))
        stats: dict = {}
        offsets, _r, _valid = probe.probe_ranks(
            idx, lats, lons, mode=wl.mode, stats=stats)
        assign_s = (t_first if "first" in wl.kernels else 0.0) + (
            t_all if "all" in wl.kernels else 0.0)
        m["probe.assign_rows_per_s_core"] = n / assign_s
        m["probe.candidates_per_row"] = stats["n_candidates"] / n
        m["probe.boundary_candidate_share"] = (
            stats["n_boundary_candidates"] / max(stats["n_candidates"], 1))
        m["probe.multi_match_share"] = float((np.diff(offsets) > 1).mean())

        per_row = assign_s / n
        m["probe.distance_rows_per_s_core"] = 0.0
        m["probe.knn_rows_per_s_core"] = 0.0
        m["probe.knn_evals_per_row"] = 0.0
        m["probe.batch_peak_alloc_mb"] = 0.0
        if "distance" in wl.kernels:
            ranks = first.to_numpy(zero_copy_only=False)
            names = [idx.zone_ids[r] if r >= 0 else None for r in ranks]
            t, _ = timed("probe.distance", lambda: probe.distance_from_boundary_batch(
                idx, names, lats, lons, mode=wl.mode, metric="geodesic"))
            m["probe.distance_rows_per_s_core"] = n / t
            per_row += t / n
        if "knn" in wl.kernels:
            t, (_res, evals) = timed("probe.knn", lambda: probe.knn_zones_batch(
                idx, lats, lons, wl.K, return_stats=True, metric="geodesic"))
            m["probe.knn_rows_per_s_core"] = n / t
            m["probe.knn_evals_per_row"] = evals / n
            per_row += t / n
        hot = wl.hot_points()
        if hot is not None:
            hlats, hlons, zone = hot
            tracemalloc.start()
            try:
                with tr.span("probe.batch_alloc"):
                    probe.distance_from_boundary_batch(
                        idx, [zone] * len(hlats), hlats, hlons,
                        mode=wl.mode, metric="geodesic")
                m["probe.batch_peak_alloc_mb"] = tracemalloc.get_traced_memory()[1] / 1e6
            finally:
                tracemalloc.stop()
        return per_row


def main() -> int:
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {sorted(names)}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import tzengine  # noqa: F401
    except ImportError as ex:
        log(f"cannot import tzengine from {ROOT}: {ex}")
        return 2

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    from harness import Tracer

    host = host_info()
    log(f"host {json.dumps(host)}")
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(host, bool(args.trace))
    session_start_s = time.perf_counter() - t0
    run = None
    try:
        log("session started")
        run = Run(args, host, spark, tracer)
        t0 = time.perf_counter()
        with tracer.span("stage"):
            run.wl.stage()
        stage_s = time.perf_counter() - t0
        log(f"staged in {stage_s:.2f}s")
        if args.trace:
            metrics = run.per_layer(session_start_s, stage_s)
        else:
            metrics = run.end_to_end()
    finally:
        log("stopping session")
        stop_session(spark)
        log("session stopped")
        shutil.rmtree(tmp, ignore_errors=True)
        if run is not None:
            shutil.rmtree(run.run_dir, ignore_errors=True)

    missing = [w["name"] for w in wanted if w["name"] not in metrics]
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if missing or bad:
        log(f"metrics missing {missing}, not finite {bad}")
        return 3
    failed = sum(1 for j in run.jobs if j["problems"])
    correct = failed == 0 and not run.sample_problems
    for p in run.sample_problems:
        log(f"SAMPLE CHECK FAILED: {p}")
    result = {
        "correct": correct,
        "attempted": len(run.jobs),
        "failed": failed,
        "metrics": {
            w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]}
            for w in wanted
        },
    }
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(
        trace_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump({
            "args": vars(args), "host": host, "rows": run.wl.rows,
            "result": result, "layer_tags": LAYER_TAGS,
            "jobs": [{k: j[k] for k in ("job", "wall_s", "traced", "problems")}
                     for j in run.jobs],
            "sample_problems": run.sample_problems,
            "spans": tracer.spans,
        }, f, indent=1)
    log(f"{len(run.jobs)} timed jobs, {failed} failed; "
        f"job walls {[round(j['wall_s'], 3) for j in run.jobs]}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
