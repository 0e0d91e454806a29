"""Measurement probes read from outside the program.

- :class:`ProcTree`: CPU seconds and RSS of this process and every
  descendant (the Spark JVM and its Python workers), read from ``/proc``.
- :func:`stage_totals` / :func:`sql_metric_totals` / :func:`jobs`: Spark's
  own status stores, which keep stage, job and SQL-node metrics even with
  the UI disabled.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def start_ticks(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks after boot, or None once it
    has exited; with the pid it identifies one process."""
    st = _stat(pid)
    return None if st is None else int(st[19])


def since_process_start() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks(os.getpid()) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """This process and its descendants. ``cpu_s()`` counts the CPU of
    live members plus the children they have reaped, so Python workers
    that came and went still count; take differences between two calls."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:  # utime stime cutime cstime
                ticks += sum(int(x) for x in st[11:15])
        return ticks / _TICK

    def peak_rss_mb(self) -> float:
        """Sum of every live member's peak RSS (``VmHWM``), in MB: the
        most the driver, the JVM and the Python workers can have held at
        once. Unlike sampling the current RSS, it misses no short peak
        and does not count a vfork()ed helper's borrowed address space."""
        return sum(_status_kb(p, "VmHWM") for p in self.pids()) / 1024

    def worker_peak_rss_mb(self) -> float:
        """Largest ``VmHWM`` among the live Python workers (the processes
        ``python -m pyspark.daemon`` forks), in MB."""
        return max((_status_kb(p, "VmHWM") for p in self.pids()
                    if "pyspark.daemon" in _cmdline(p)), default=0) / 1024


# --- Spark status stores ----------------------------------------------------


def _opt(o):
    """Scala ``Option`` → Python value or None."""
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def jobs(spark) -> list[dict]:
    """Every job the status store still holds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sql_of = {}
    for ex in _seq(spark._jsparkSession.sharedState().statusStore()
                   .executionsList()):
        for job_id in _seq(ex.jobs().keys()):
            sql_of[job_id] = ex.executionId()
    out = []
    for j in _seq(store.jobsList(None)):
        out.append({
            "id": j.jobId(),
            "tags": set(_seq(j.jobTags())),
            "sql": sql_of.get(j.jobId()),
            "stages": list(_seq(j.stageIds())),
            "start": _ms(j.submissionTime()),
            "end": _ms(j.completionTime()),
        })
    return out


def stages(spark) -> dict[int, dict]:
    """Stage id → metrics of its latest attempt."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # stageList(statuses, details, withSummaries, quantiles, taskStatus);
    # a null quantile array NPEs, an empty one does not
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out: dict[int, dict] = {}
    for s in _seq(store.stageList(None, False, False, quantiles, None)):
        sid = s.stageId()
        if sid in out and out[sid]["attempt"] > s.attemptId():
            continue
        out[sid] = {
            "attempt": s.attemptId(),
            "name": s.name(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "tasks": s.numTasks(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
        }
    return out


def stage_totals(spark, stage_ids) -> dict[str, float]:
    """Sum of stage metrics over ``stage_ids``."""
    by_id = stages(spark)
    keys = ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_read",
            "shuffle_write")
    tot = dict.fromkeys(keys, 0.0)
    for sid in set(stage_ids):
        if sid in by_id:
            for k in keys:
                tot[k] += by_id[sid][k]
    return tot


def cached_bytes(spark) -> int:
    """Memory plus disk bytes held by cached RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def sql_plan(spark, execution_id: int) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    return _opt(store.execution(execution_id)).physicalPlanDescription()


def sql_metric_totals(spark, execution_ids) -> dict[str, float]:
    """SQL-node metric values summed by metric name over the executions.
    Timing metrics are reported in ms, sizes in bytes, as Spark keeps
    them."""
    store = spark._jsparkSession.sharedState().statusStore()
    tot: dict[str, float] = {}
    for eid in set(execution_ids):
        ex = _opt(store.execution(eid))
        if ex is None:
            continue
        names = {m.accumulatorId(): m.name() for m in _seq(ex.metrics())}
        values = store.executionMetrics(eid)
        for acc, name in names.items():
            v = _opt(values.get(acc))
            if v is not None:
                tot[name] = tot.get(name, 0.0) + _metric_number(v)
    return tot


def _metric_number(text: str) -> float:
    """Spark renders a summed SQL metric as e.g. ``"12.3 MiB"`` or
    ``"total (min, med, max ...)\\n1.2 s (...)"``; take the total. A
    metric with no updates renders empty and counts 0."""
    line = text.strip().split("\n")[-1] if "\n" in text else text.strip()
    head = line.split("(")[0].strip()
    parts = head.split()
    if not parts:
        return 0.0
    num = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
             "TiB": 1024**4, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
             "ns": 1e-9}
    return num * scale.get(unit, 1)

