"""Benchmark of the real extraction job (``cli.py --mode extract
--no-resume``) on seeded workloads.

    python3 perfbench/run.py --workload native --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --all            # every workload, traced, + local[1]

One invocation: start a ``local[nproc]`` session, generate the
workload's parquet input from ``--seed``, run the job ``WARMUP_JOBS``
times untimed, then run it back to back until ``--seconds`` of job
time has been measured (closed loop: one client, one job at a time).
Every job's output is checked outside the timed span. With
``--trace 1`` one more job runs labelled and its spans and per-operator
metrics (Spark SQL status store) are written to
``.bench_out/trace_<workload>_seed<seed>.json``. ``--all`` runs every
workload that way, each in its own process, and then again on
``local[1]`` for the 1 -> nproc core speedup.

Prints each metric by name and unit (median, quartiles, n) and, as
its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits 1 when an output check
fails and 2 when the checkout holds no engine to run.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "cookieblock_consent_classifier_spark"

# Bounded end-to-end metrics, each the median over an invocation's
# timed jobs (setup_s: one per invocation). Job cost is gated in the CPU
# seconds of the job's own work: its tasks' executor-thread CPU plus its
# Python workers' CPU. This host's vCPUs lose up to a fifth of their
# time to the hypervisor at times (the steal share is recorded per job),
# which moves wall time between identical runs by more than any bound
# allowed, while steal is not charged as CPU time; the JVM's JIT
# compiler and GC threads are left out too. Wall-clock job_s and
# rows_per_s are measured, printed and recorded, not bounded.
END_TO_END = {"rows_per_cpu_s": "1/s", "job_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
WALL = {"rows_per_s": "1/s", "job_s": "s"}
# Untimed jobs after session start. The first is 3-4x slower than a
# warm one; the second and third still spend 10-100 % more task CPU
# than later ones, on code the JIT has not compiled yet. On cookie
# workloads the first runs through cli.main.
WARMUP_JOBS = 3
RSS_PERIOD_S = 0.2  # memory sampling period
# The driver heap is pinned and pre-touched (-Xms = -Xmx, AlwaysPreTouch):
# an unpinned heap grows with GC timing, which made the JVM's RSS differ
# by hundreds of MB between identical runs; pinned, peak RSS moves with
# the Python workers and off-heap memory. 2 GB also keeps a run small on
# a shared host.
HEAP = "2g"


# ---------------------------------------------------------------------------
# host observation: process-tree RSS, /proc/loadavg, /proc/stat
# ---------------------------------------------------------------------------

def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fd:
                stat = fd.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of a process tree, each process counted as PSS:
    pages the forked Python workers share with their daemon, or a child
    shares with the JVM while it is being spawned, count once (summed
    RSS counted them per process, adding GBs while a spawn was in
    flight)."""
    total = 0
    for p in _tree(root_pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fd:
                total += next(int(x.split()[1]) for x in fd if x.startswith("Pss:")) * 1024
        except (OSError, StopIteration):  # exited meanwhile
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def workers_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the JVM's descendants (the Python
    worker daemon and its workers), including reaped children
    (cutime/cstime); the JVM itself is left out. Time the hypervisor
    stole from the vCPUs is not in it."""
    total = 0
    for p in _tree(jvm_pid)[1:]:
        try:
            with open(f"/proc/{p}/stat") as fd:
                f = fd.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


class RssSampler:
    """Samples the resident memory of the Spark JVM and its descendants
    (the Python worker daemons and workers) every ``RSS_PERIOD_S``."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(RSS_PERIOD_S):
            v = tree_pss_bytes(self.pid)
            with self._lock:
                self.peak = max(self.peak, v)

    def take_peak(self) -> int:
        """Peak since the previous call (with a fresh sample)."""
        v = tree_pss_bytes(self.pid)
        with self._lock:
            peak, self.peak = max(self.peak, v), 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fd:
        return [float(x) for x in fd.read().split()[:3]]


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fd:
        return [int(x) for x in fd.readline().split()[1:]]


def _cpu_share(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal ...
    return {"busy": round(1 - (d[3] + d[4]) / total, 3), "steal": round(d[7] / total, 4)}


# ---------------------------------------------------------------------------
# statistics and provenance
# ---------------------------------------------------------------------------

def summarize(values: list[float]) -> dict:
    vs = sorted(values)
    if len(vs) == 1:
        q1 = q3 = vs[0]
    else:
        q1, _, q3 = statistics.quantiles(vs, n=4)
    return {"median": statistics.median(vs), "q1": q1, "q3": q3, "n": len(vs)}


def _source_digest() -> str:
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, ENGINE), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fd:
                        h.update(fd.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fd:
        h.update(fd.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def provenance(spark, args, cores: int) -> dict:
    import pyspark

    return {
        "git_sha": _git_sha(),  # None outside a git checkout
        "source_sha256": _source_digest(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "host_cpus": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_heap": HEAP,
        "loadavg_at_start": _loadavg(),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _preflight() -> None:
    missing = [p for p in (ENGINE, "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine not found in {ROOT}: missing {missing}", file=sys.stderr)
        sys.exit(2)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    # Python workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts (launcher included) skips its
    # /tmp/hsperfdata_<user> file: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _start_spark(work: str, cores: int):
    from cookieblock_consent_classifier_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _check(w, res, expect) -> tuple[str, int, list[str]]:
    import checks

    if w.sink == "libsvm":
        digest, rows, errs = checks.check_libsvm_sink(res.sink_path, res.extract_path, res.width, expect)
    else:
        digest, rows, errs = checks.check_parquet_sink(res.sink_path, res.width, expect)
    return digest, rows, errs + checks.check_feature_map(res.fmap_path, res.width)


def _run_cli(input_path: str, work: str) -> str:
    """``cli.main([... "--mode", "extract", "--no-resume"])`` on the
    input; it reuses the running session. Returns its output dir."""
    from cookieblock_consent_classifier_spark import cli

    out = os.path.join(work, "cli_out")
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main([
            "--input", input_path, "--output", out, "--format", "parquet",
            "--mode", "extract", "--no-resume",
        ])
    return out


def _flagged(before: list[float], after: list[float], cores: int) -> list[str]:
    # a job alone holds the 1-min load near `cores`; a lingering previous
    # job can leave about that much behind as well
    flags = []
    if before[0] > cores:
        flags.append("load_high_before")
    if after[0] > 1.25 * cores:
        flags.append("load_above_job_after")
    return flags


def run(args) -> int:
    _preflight()
    import job as J
    import layers
    import workloads as W

    w = W.WORKLOADS[args.workload]
    cores = args.cores or len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_start, 3)

    spark = None
    try:
        # ---- set-up: session, input, warm-up job (untimed by the loop)
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        t_session = time.perf_counter() - t0
        prov = provenance(spark, args, cores)
        input_path = os.path.join(work, "input")
        t1 = time.perf_counter()
        table = W.generate(w, args.seed, input_path)
        t_gen = time.perf_counter() - t1
        import checks

        expect = checks.expected_labels(w.kind, input_path)
        # warm-up (WARMUP_JOBS). On cookie inputs the first job runs
        # through the product entry point (cli.main), whose output must
        # then hash equal to every timed job's: the benchmark times the
        # same job the CLI runs.
        t2 = time.perf_counter()
        n_warm = WARMUP_JOBS
        if w.kind == "cookies":
            cli_out = _run_cli(input_path, work)
            n_warm -= 1
        for _ in range(n_warm):
            warm = J.run_job(spark, w, input_path, os.path.join(work, "out"))
        t_warm = time.perf_counter() - t2
        setup_s = t_session + t_gen + t_warm
        mark("setup_done")
        # events inputs are measured on the cookie updates the adapter
        # made of them (the scan stage's checkpoint)
        props = W.input_properties(table if w.kind == "cookies" else pq.read_table(warm.scan_path))
        del table

        # ---- timed closed loop + checks outside the timed span
        jobs, failed_checks = [], []
        last_ok = None  # the last job that ran to completion
        import statusstore
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        with RssSampler(jvm) as rss:
            measured = 0.0
            while measured < args.seconds:
                last_stage = max(statusstore.stage_task_cpu_s(spark), default=-1)
                la0, cpu0 = _loadavg(), _cpu_jiffies()
                py_cpu0 = workers_cpu_s(jvm)
                rss.take_peak()
                rec = {"i": len(jobs)}
                tj = time.perf_counter()
                try:
                    res = J.run_job(spark, w, input_path, os.path.join(work, "out"))
                except Exception as e:  # a failed job counts against attempted
                    rec.update(error=f"{type(e).__name__}: {e}"[:500])
                    jobs.append(rec)
                    measured += time.perf_counter() - tj
                    continue
                la1, cpu1 = _loadavg(), _cpu_jiffies()
                rec["python_cpu_s"] = workers_cpu_s(jvm) - py_cpu0
                rec["peak_rss_mb"] = rss.take_peak() / 2**20
                rec["task_cpu_s"] = sum(
                    v for k, v in statusstore.stage_task_cpu_s(spark).items() if k > last_stage
                )
                rec["job_cpu_s"] = rec["task_cpu_s"] + rec["python_cpu_s"]
                rec["rows_per_cpu_s"] = props["rows"] / rec["job_cpu_s"]
                measured += res.job_s
                last_ok = res
                digest, rows, errs = _check(w, res, expect)
                rec.update(
                    job_s=res.job_s, rows_per_s=props["rows"] / res.job_s, rows_out=rows,
                    checksum=digest, errors=errs, loadavg_before=la0, loadavg_after=la1,
                    cpu=_cpu_share(cpu0, cpu1), flags=_flagged(la0, la1, cores),
                )
                jobs.append(rec)
        mark("loop_done")
        ok_jobs = [j for j in jobs if "error" not in j and not j["errors"]]
        sums = {j["checksum"] for j in jobs if "checksum" in j}
        if len(sums) > 1:
            failed_checks.append(f"checksum differs between jobs: {sorted(sums)}")

        extras: dict = {}
        if last_ok is None:
            failed_checks.append("no job completed: oracle / cli parity not checked")
        elif w.kind == "events":
            import __spark_entry__

            bad, n = checks.native_oracle_mismatches(
                __spark_entry__._pipeline_oracle_sql(), input_path, last_ok.extract_path
            )
            extras["duckdb_oracle"] = {"mismatched_rows": bad, "oracle_rows": n}
            if bad or not n:
                failed_checks.append(f"DuckDB oracle: {bad} of {n} rows differ")
        else:
            digest, _rows, errs = checks.check_parquet_sink(
                os.path.join(cli_out, "features_parquet"), last_ok.width, expect
            )
            extras["cli_parity"] = {"cli_checksum": digest, "bench_checksums": sorted(sums)}
            if errs or {digest} != sums:
                failed_checks.append(f"cli.main parity: {digest} vs {sorted(sums)} {errs}")

        mark("extras_done")
        traced = None
        if args.trace:
            first = statusstore.next_execution_id(spark)
            run_id = f"{w.name}-{args.seed}-{os.getpid()}"
            res_t = J.run_job(spark, w, input_path, os.path.join(work, "out"), traced=True)
            execs = statusstore.executions_since(spark, first)
            spans = {s.name: s.end - s.start for s in res_t.spans}
            per_layer = layers.layer_metrics(spans, execs)
            top = [s for s in res_t.spans if s.parent == "job"]
            untraced = statistics.median(j["job_s"] for j in ok_jobs) if ok_jobs else None
            digest, _rows, errs = _check(w, res_t, expect)
            if errs or (sums and {digest} != sums):
                failed_checks.append(f"traced job output: {digest} {errs}")
            traced = {
                "run_id": run_id,
                "job_s": res_t.job_s,
                "span_coverage": sum(s.end - s.start for s in top) / res_t.job_s,
                "tracing_overhead_s": None if untraced is None else res_t.job_s - untraced,
                "per_layer": per_layer,
                "spans": [dict(s.as_dict(res_t.spans[0].start), run_id=run_id) for s in res_t.spans],
                "executions": execs,
            }

        if spark is not None:
            _stop_spark(spark)
            spark = None
        mark("spark_stopped")
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # ---- report
    mark("done")
    failed = sum(1 for j in jobs if "error" in j or j["errors"])
    correct = failed == 0 and not failed_checks and bool(ok_jobs)
    e2e = {
        n: summarize([setup_s] if n == "setup_s" else [j[n] for j in ok_jobs]) if ok_jobs else None
        for n in {**END_TO_END, **WALL}
    }
    record = {
        "provenance": prov,
        "input": props,
        "setup": {"session_s": t_session, "generate_s": t_gen, "warmup_job_s": t_warm, "setup_s": setup_s},
        "phases_s": phases,
        "jobs": jobs,
        "end_to_end": e2e,
        "failed_frac": failed / max(1, len(jobs)),
        "failed_checks": failed_checks,
        "extras": extras,
        "loadavg_at_end": _loadavg(),
        "flagged_jobs": sum(1 for j in jobs if j.get("flags")),
    }
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{w.name}_seed{args.seed}_trace{args.trace}_cores{cores}"
    with open(os.path.join(out_dir, f"run_{tag}.json"), "w") as fd:
        json.dump(record, fd, indent=1)
    if traced is not None:
        traced.update(provenance=prov, input=props)
        with open(os.path.join(out_dir, f"trace_{w.name}_seed{args.seed}.json"), "w") as fd:
            json.dump(traced, fd, indent=1)

    print(f"# workload {w.name} seed {args.seed} cores {cores}: {props}")
    for name, unit in {**END_TO_END, **WALL}.items():
        s = e2e[name]
        if s:
            print(f"{name} [{unit}] median {s['median']:.6g} q1 {s['q1']:.6g} q3 {s['q3']:.6g} n {s['n']}")
    print(f"failed_frac [share] {record['failed_frac']:.4g} ({failed} of {len(jobs)} jobs)")
    print(f"flagged_jobs [count] {record['flagged_jobs']} (load before > {cores} or after > {1.25 * cores})")
    for k, v in extras.items():
        print(f"{k}: {json.dumps(v)}")
    for msg in failed_checks + [f"job {j['i']}: {j.get('error') or j['errors']}" for j in jobs
                                if "error" in j or j["errors"]]:
        print(f"CHECK FAILED: {msg}")
    if traced is not None:
        for name, unit in layers.PER_LAYER.items():
            print(f"{name} [{unit}] {traced['per_layer'][name]:.6g}")
        ov = traced["tracing_overhead_s"]
        print(f"trace: job_s {traced['job_s']:.4f} span_coverage {traced['span_coverage']:.3f} "
              f"tracing_overhead_s {ov if ov is None else round(ov, 4)}")

    if args.trace:
        metrics = {n: {"value": traced["per_layer"][n], "unit": u} for n, u in layers.PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n]["median"], "unit": u} for n, u in END_TO_END.items() if e2e[n]}
    print(json.dumps({"correct": correct, "attempted": len(jobs), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _invoke(args: list[str]) -> tuple[int, str]:
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT,
    )
    return r.returncode, r.stdout


def _median_job_s(name: str, seed: int, trace: int, cores: int) -> float:
    with open(os.path.join(ROOT, ".bench_out", f"run_{name}_seed{seed}_trace{trace}_cores{cores}.json")) as fd:
        return json.load(fd)["end_to_end"]["job_s"]["median"]


def run_all(args) -> int:
    """Every workload, each in its own process (own JVM): traced on all
    usable CPUs, then untraced on ``local[1]`` for the speedup."""
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    status = 0
    for name in W.WORKLOADS:
        common = ["--workload", name, "--seed", str(args.seed)]
        rc, out = _invoke([*common, "--seconds", str(args.seconds), "--trace", "1"])
        print(out, end="")
        rc1, _ = _invoke([*common, "--seconds", "1", "--trace", "0", "--cores", "1"])
        status = status or rc or rc1
        if rc == 0 and rc1 == 0:
            job_n = _median_job_s(name, args.seed, 1, cores)
            job_1 = _median_job_s(name, args.seed, 0, 1)
            print(f"speedup_1to{cores} [ratio] {job_1 / job_n:.4g} "
                  f"(job_s local[1] {job_1:.4g} / job_s local[{cores}] {job_n:.4g})")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload, traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N]; default: usable CPUs")
    args = ap.parse_args(argv)
    if args.all:
        _preflight()
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
