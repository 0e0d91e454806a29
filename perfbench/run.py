"""Benchmark of the WOD convert job and a registered-query mix: end-to-end
metrics, or per-layer ones with --trace 1.

Run from the repository root:

    python3 perfbench/run.py --workload convert --seed 1 --seconds 10 \
        --trace 0

Each run generates its inputs from ``--seed`` (WOD cast files by
``wodgen.py``, query tables by ``tablegen.py``, both cached under
``.perfbench/``), builds a session with ``session.get_spark``, loads the
registry, and drives one workload in a closed loop with one client:

- ``convert``: one ``plans.convert.convert`` call per pass over four small
  files and one large one (``CONVERT_FILES``), so both decode arms run;
- ``queries``: the query mix of ``queries.py``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: set-up (median of three
set-ups: this process and two fresh ones), the first pass, the median of ``STEADY_PASSES`` steady
passes, process-tree CPU and peak RSS, and throughput. ``--trace 1``
reports per-layer metrics instead, and measures every layer on both
workloads: it times each public call under a span, runs ``convert_file``
once per file under a Spark job tag so that jobs can be attributed per
file and per phase, scans with ``wod_scan`` to a ``noop`` sink on each
arm, decodes on the driver with ``split_records``/``parse_cast``, runs
each query under its own job tag, and writes every span to
``.perfbench/trace/``. The workload's own layers get a warm pass first;
the other workload's layers run once.

Every convert pass is checked: each file has ``_SUCCESS`` and the
GeoParquet sidecar, and an error dataset exactly when the generator made
malformed casts for it. Once per run the last output is reconciled with
the generator's manifest: rows written plus error rows equal casts in, the
geohash3 directories are exactly the manifest's cells and each is the
first three characters of every row's geohash in it, and every data file
carries the ``geo`` footer key. Query results are checked as
``queries.py`` says. A failed check counts in ``failed``; it never aborts
the run.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

import probe
import queries
from spans import Tracer, union_length

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench")

WORKLOADS = ("convert", "queries")
#: The convert workload's input, one generator spec per file: four small
#: files, below ``convert_file``'s 256 KiB gz scatter threshold, so each is
#: decoded inside its file task, and one large file of about 0.45 MB gz,
#: whose decode is scattered across cores.
SMALL = dict(casts=500, cells=12)
LARGE = dict(casts=2000, cells=20, error_rate=0.005)
CONVERT_FILES = [dict(SMALL, error_rate=0.01)] * 2 + [
    dict(SMALL, error_rate=0.0)] * 2 + [LARGE]
_SCATTER_BYTES = 256 * 1024  # plans.convert's scatter threshold
SETUP_RUNS = 3
#: Steady passes per run, the same on every workload and commit, so two
#: commits are compared over the same work; two passes of about 5 s fill
#: the 10 s a run measures.
STEADY_PASSES = 2


def setup(tracer=None):
    """Session and registry, as a user's job starts them. Returns the
    session, the seconds since process start, and per-call seconds."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout root; every
    # temporary file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from wod_ascii_to_parquet_spark_spark import registry, session

    # -XX:-UsePerfData: the JVM's perf counters would go to /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    calls = {}
    with _maybe_span(tracer, "session.get_spark"):
        t = time.perf_counter()
        spark = session.get_spark(
            extra_confs={"spark.driver.extraJavaOptions": java_opts})
        calls["session.get_spark_s"] = time.perf_counter() - t
    with _maybe_span(tracer, "registry.load_all_operators"):
        t = time.perf_counter()
        registry.load_all_operators()
        calls["registry.load_all_operators_s"] = time.perf_counter() - t
    return spark, probe.since_process_start(), calls


def _maybe_span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def shutdown(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker
    this process started have exited."""
    from pyspark import SparkContext

    started = {p: probe.start_ticks(p) for p in probe.ProcTree().pids()
               if p != os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p, t in started.items() if probe.start_ticks(p) == t]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def host_probe_s() -> float:
    """Seconds of a fixed pure-Python loop: printed beside each run so
    that runs made while the host was slow can be told apart."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t


# --- output checks ----------------------------------------------------------


def _out_paths(out: str, rel: str) -> tuple[str, str]:
    ds, level, name = rel.split("/")
    name = name[:-3] + ".parquet"
    return (os.path.join(out, "yearly", ds, level, name),
            os.path.join(out, "error", ds, level, name))


def check_pass(out: str, manifest: dict) -> set[str]:
    """Files whose published output is incomplete after one pass."""
    bad = set()
    for rel, m in manifest["files"].items():
        data, err = _out_paths(out, rel)
        ok = (os.path.exists(os.path.join(data, "_SUCCESS"))
              and os.path.exists(os.path.join(data, "_geo_metadata.json"))
              and os.path.isdir(err) == (m["error_casts"] > 0))
        if not ok:
            bad.add(rel)
    return bad


def _data_files(root: str):
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.join(dirpath, n)


def reconcile(out: str, manifest: dict) -> tuple[set[str], dict]:
    """Row, error, cell and footer reconciliation against the manifest.
    Returns the files that fail and the output totals."""
    import pyarrow.parquet as pq

    bad = set()
    totals = {"data_files": 0, "data_bytes": 0, "geo_files": 0, "rows": 0,
              "error_rows": 0}
    for rel, m in manifest["files"].items():
        data, err = _out_paths(out, rel)
        rows, err_rows, cells, ok = 0, 0, set(), True
        for path in _data_files(data):
            cell = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
            cells.add(cell)
            meta = pq.read_metadata(path)
            rows += meta.num_rows
            stamped = b"geo" in (meta.metadata or {})
            ok &= stamped
            totals["geo_files"] += stamped
            hashes = pq.read_table(path, columns=["geohash"]).column(0)
            ok &= all(h[:3] == cell for h in hashes.to_pylist())
            totals["data_files"] += 1
            totals["data_bytes"] += os.path.getsize(path)
        if os.path.isdir(err):
            err_rows = sum(pq.read_metadata(p).num_rows for p in _data_files(err))
        ok &= (rows == m["ok_casts"] and err_rows == m["error_casts"]
               and cells == set(m["geohash3_cells"]))
        if not ok:
            bad.add(rel)
        totals["rows"] += rows
        totals["error_rows"] += err_rows
    return bad, totals


def scatter_files(manifest: dict) -> set[str]:
    """Files at or above the scatter threshold."""
    return {rel for rel, m in manifest["files"].items()
            if m["gz_bytes"] >= _SCATTER_BYTES}


def large_files(manifest: dict) -> set[str]:
    return {rel for rel, m in manifest["files"].items()
            if m["casts"] == LARGE["casts"]}


# --- convert passes ---------------------------------------------------------


class Runner:
    """Convert passes over one generated input, with their checks."""

    def __init__(self, spark, seed: int):
        import wodgen  # after set-up: it imports the test-suite's encoder

        self.spark = spark
        self.src, self.manifest = wodgen.cached(
            os.path.join(WORK, "inputs"), seed, files=CONVERT_FILES)
        self.tree = probe.ProcTree()
        self.out = os.path.join(WORK, "out")
        # both decode arms must run: only the large file may scatter
        self.attempted = 1
        self.failed = int(scatter_files(self.manifest)
                          != large_files(self.manifest))
        self.casts = sum(m["casts"] for m in self.manifest["files"].values())

    def fresh_out(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def convert_pass(self) -> tuple[float, float]:
        """One ``convert`` call over every input; returns (wall, CPU) s."""
        from wod_ascii_to_parquet_spark_spark.plans.convert import convert

        self.fresh_out()
        # Each pass starts from a collected heap, so no pass pays for the
        # garbage of the one before it.
        self.spark.sparkContext._jvm.System.gc()
        c0, t0 = self.tree.cpu_s(), time.perf_counter()
        raised = False
        try:
            convert(self.spark, self.src, self.out)
        except RuntimeError as e:  # raised after every file has been tried
            print(f"convert failed: {e}", file=sys.stderr)
            raised = True
        wall, cpu = time.perf_counter() - t0, self.tree.cpu_s() - c0
        self.attempted += len(self.manifest["files"])
        self.failed += max(len(check_pass(self.out, self.manifest)), raised)
        return wall, cpu

    def file_loop(self, tracer=None) -> tuple[float, dict]:
        """``plan_tasks`` then ``convert_file`` once per task, one after
        another: the shape of the traced run. With a tracer each call runs
        in a span and under its own job tag. Returns the wall seconds and,
        per tag, the file's span."""
        from wod_ascii_to_parquet_spark_spark.plans import convert

        sc = self.spark.sparkContext
        self.fresh_out()
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        with _maybe_span(tracer, "convert.plan_tasks"):
            tasks = convert.plan_tasks(self.src, self.out, spark=self.spark)
        self.plan_tasks_s = time.perf_counter() - t0
        files, raised = {}, 0
        for i, task in enumerate(tasks):
            tag = f"perfbench-file-{i}"
            if tracer:
                sc.addJobTag(tag)
            try:
                with _maybe_span(tracer, "convert.convert_file",
                                 file=task.input_path) as sp:
                    convert.convert_file(self.spark, task)
            except Exception:  # one file's failure must not end the run
                traceback.print_exc()
                raised += 1
            finally:
                if tracer:
                    sc.removeJobTag(tag)
            files[tag] = sp
        wall = time.perf_counter() - t0
        self.attempted += len(tasks)
        self.failed += max(len(check_pass(self.out, self.manifest)), raised)
        return wall, files

    def reconcile(self) -> dict:
        bad, totals = reconcile(self.out, self.manifest)
        self.failed += len(bad)
        if bad:
            print(f"reconciliation failed for {sorted(bad)}", file=sys.stderr)
        return totals

    def paths(self, rels) -> list[str]:
        return sorted(os.path.join(self.src, rel) for rel in rels)


def query_runner(spark, seed: int) -> queries.QueryRunner:
    import tablegen  # after set-up, like wodgen

    return queries.QueryRunner(
        spark, tablegen.cached(os.path.join(WORK, "tables"), seed))


# --- end to end -------------------------------------------------------------


def end_to_end(args, spark) -> tuple[object, dict]:
    """A cold pass, then ``STEADY_PASSES`` steady ones."""
    if args.workload == "queries":
        r = query_runner(spark, args.seed)

        def one_pass():
            return r.run_pass()[:2]
        items = len(queries.QUERIES)
    else:
        r = Runner(spark, args.seed)
        one_pass = r.convert_pass
        items = r.casts
    cold, _ = one_pass()
    walls, cpus = [], []
    for _ in range(STEADY_PASSES):
        w, c = one_pass()
        walls.append(w)
        cpus.append(c)
    peak_rss = r.tree.peak_rss_mb()
    if args.workload != "queries":
        r.reconcile()
    wall = statistics.median(walls)
    print(f"passes: cold {cold:.3f}s, steady {[round(w, 3) for w in walls]}",
          file=sys.stderr)
    return r, {
        "cold_wall_s": (cold, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "items_per_s": (items / wall, "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }


# --- traced -----------------------------------------------------------------


def traced(args, spark, calls, tracer) -> tuple[list, dict, dict]:
    """Every per-layer metric. The workload's own layers get a warm pass,
    then an untraced and a traced pass of the traced run's shape; their
    ratio is the tracing overhead. The other workload's layers get one
    traced pass."""
    metrics = {k: (v, "s") for k, v in calls.items()}
    own_queries = args.workload == "queries"
    conv = Runner(spark, args.seed)
    qr = query_runner(spark, args.seed)
    if own_queries:
        qr.run_pass()
        t = time.perf_counter()
        qr.run_pass()
        untraced = time.perf_counter() - t
        t = time.perf_counter()
        per = qr.run_pass(tracer)[2]
        metrics.update(queries.layer_metrics(qr, per))
        overhead = (time.perf_counter() - t) / untraced
        metrics.update(per_file_phases(conv, tracer)[0])
    else:
        conv.convert_pass()
        untraced = conv.file_loop()[0]
        m, traced_s = per_file_phases(conv, tracer)
        metrics.update(m)
        overhead = traced_s / untraced
        metrics.update(queries.layer_metrics(qr, qr.run_pass(tracer)[2]))
    metrics["trace.overhead_ratio"] = (overhead, "ratio")
    counts = conv.reconcile()
    gz_in = sum(m["gz_bytes"] for m in conv.manifest["files"].values())
    metrics["convert.output_files"] = (counts["data_files"], "count")
    metrics["geo_metadata.files_stamped"] = (counts["geo_files"], "count")
    metrics["convert.bytes_out_per_byte_in"] = (counts["data_bytes"] / gz_in,
                                                "ratio")
    large = large_files(conv.manifest)
    metrics.update(scan_layer(conv, tracer, "wod_ascii.",
                              conv.paths(large), scatter=True))
    metrics.update(scan_layer(conv, tracer, "wod_ascii.intask_", conv.paths(
        set(conv.manifest["files"]) - large), scatter=False))
    metrics.update(decode_layer(conv, tracer))
    counts["jobs"] = len(probe.jobs(spark))
    return [conv, qr], metrics, counts


def per_file_phases(r: Runner, tracer: Tracer) -> tuple[dict, float]:
    """The traced file loop; each tagged job is then attributed to a phase.
    Seconds are means per file, so file = write + error + footer + driver.
    Also returns the loop's wall seconds including the attribution."""
    spark = r.spark
    t0 = time.perf_counter()
    _, files = r.file_loop(tracer)
    all_jobs = probe.jobs(spark)
    per = dict.fromkeys(("file", "write", "error", "footer", "driver"), 0.0)
    stage_ids = []
    for tag, sp in files.items():
        mine = [j for j in all_jobs if tag in j["tags"] and j["end"]]
        phases: dict[str, list] = {"write": [], "error": [], "footer": []}
        for j in mine:
            if j["sql"] is None:
                phase = "footer"  # attach_geo_footer's foreachPartition job
            elif "/error/" in probe.sql_plan(spark, j["sql"]):
                phase = "error"
            else:
                phase = "write"
            phases[phase].append((j["start"], j["end"]))
            tracer.add(f"spark.job.{phase}", j["start"], j["end"], sp["id"],
                       job=j["id"])
            stage_ids += j["stages"]
        wall = sp["end"] - sp["start"]
        per["file"] += wall
        for phase, iv in phases.items():
            per[phase] += union_length(iv)
        per["driver"] += wall - union_length(
            [(j["start"], j["end"]) for j in mine])
    n = len(files)
    st = probe.stage_totals(spark, stage_ids)
    loop_s = time.perf_counter() - t0
    return {
        "convert.plan_tasks_s": (r.plan_tasks_s, "s"),
        "convert.file_s": (per["file"] / n, "s"),
        "convert.write_job_s": (per["write"] / n, "s"),
        "convert.error_channel_s": (per["error"] / n, "s"),
        "geo_metadata.footer_job_s": (per["footer"] / n, "s"),
        "convert.driver_s": (per["driver"] / n, "s"),
        "convert.task_cpu_s": (st["cpu_s"] / n, "s"),
        "convert.gc_s": (st["gc_s"] / n, "s"),
    }, loop_s


def scan_layer(r: Runner, tracer: Tracer, prefix: str, paths: list[str],
               scatter: bool) -> dict:
    """``wod_scan`` alone to a ``noop`` sink, on the arm convert uses for
    these files; metric names start with ``prefix``."""
    from wod_ascii_to_parquet_spark_spark.sources.wod_ascii import wod_scan

    spark, sc = r.spark, r.spark.sparkContext
    tag = f"perfbench-scan-{scatter}"
    sc.addJobTag(tag)
    try:
        with tracer.span("wod_ascii.wod_scan", scatter=scatter):
            t = time.perf_counter()
            wod_scan(spark, paths, scatter=scatter).write.format(
                "noop").mode("overwrite").save()
            scan_s = time.perf_counter() - t
    finally:
        sc.removeJobTag(tag)
    r.attempted += 1
    jobs = [j for j in probe.jobs(spark) if tag in j["tags"]]
    sqlm = probe.sql_metric_totals(spark, {j["sql"] for j in jobs} - {None})
    st = probe.stage_totals(spark, [s for j in jobs for s in j["stages"]])
    metrics = {
        "scan_s": (scan_s, "s"),
        "python_worker_s": (sqlm.get("time to run Python workers", 0.0), "s"),
        "arrow_bytes_in": (sqlm.get("data sent to Python workers", 0.0), "bytes"),
        "arrow_bytes_out": (
            sqlm.get("data returned from Python workers", 0.0), "bytes"),
    }
    if scatter:
        metrics["exchange_bytes"] = (st["shuffle_write"], "bytes")
        metrics["worker_peak_rss_mb"] = (r.tree.worker_peak_rss_mb(), "MB")
    return {prefix + k: v for k, v in metrics.items()}


def decode_layer(r: Runner, tracer: Tracer) -> dict:
    """``split_records`` + ``parse_cast`` over the inputs on one core."""
    from wod_ascii_to_parquet_spark_spark.sources.wod_format import (
        WodFormatError, parse_cast, split_records)

    decoded, busy = 0, 0.0
    with tracer.span("wod_format.decode"):
        for p in r.paths(r.manifest["files"]):
            with gzip.open(p, "rt") as f:
                text = f.read()
            t = time.perf_counter()
            for rec in split_records(text):
                try:
                    parse_cast(rec, "BENCH")
                except WodFormatError:
                    pass
                decoded += 1
            busy += time.perf_counter() - t
    r.attempted += 1
    r.failed += decoded != r.casts
    return {"wod_format.casts_per_s_1core": (decoded / busy, "1/s")}


def setup_probes(n: int) -> list[float]:
    """``n`` set-ups in fresh processes, one after another."""
    out = []
    for _ in range(n):
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            cwd=REPO, capture_output=True, text=True, timeout=120,
        )
        if res.returncode != 0:
            raise RuntimeError(f"setup probe failed: {res.stderr[-2000:]}")
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the runner's interface; a run makes "
                         "STEADY_PASSES steady passes, sized to fill 10 s")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.setup_probe:
        spark, setup_s, _ = setup()
        shutdown(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = Tracer(run_id) if args.trace else None
    spark, setup_s, calls = setup(tracer)
    host_before = host_probe_s()
    if args.trace:
        runners, metrics, counts = traced(args, spark, calls, tracer)
    else:
        r, metrics = end_to_end(args, spark)
        runners = [r]
    shutdown(spark)
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "trace", run_id + ".json"), counts)
    else:
        setups = [setup_s] + setup_probes(SETUP_RUNS - 1)
        print(f"setup runs: {[round(s, 3) for s in setups]}", file=sys.stderr)
        metrics["setup_s"] = (statistics.median(setups), "s")
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    print(f"host probe: {host_before:.3f}s before, {host_probe_s():.3f}s after",
          file=sys.stderr)

    attempted = sum(r.attempted for r in runners)
    failed = sum(r.failed for r in runners)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
