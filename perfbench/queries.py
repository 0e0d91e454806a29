"""The query workload: a fixed mix of registered queries over generated
tables, checked against their DuckDB oracles.

Each query runs after ``spark.catalog.clearCache()`` (so no pass reads a
cache left by the one before) and its result is collected to the driver.
The first pass's results are compared with the query's DuckDB oracle using
the comparison of ``tests/oracle_harness.py``; every later pass must return
the same rows as the first.
"""

from __future__ import annotations

import sys
import time
import traceback

import probe

#: Query name -> operator family. One or two headliners of ``bench.py``
#: per family; all have a DuckDB oracle.
QUERIES = {
    "join_asof": "relational",
    "stream_tumbling_counts": "stream",
    "dedup_exact": "dedup",
    "similarity_knn_join": "similarity",
    "curation_decontaminate": "curation",
    "text_quality": "text",
    "multimodal_decode_arrow": "multimodal",
    "graph_pagerank": "graph",
}
FAMILIES = sorted(set(QUERIES.values()))


def _canonical(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, sorted, in the oracle harness's
    canonical cell form."""
    from tests.oracle_harness import _canon, _sortkey

    perm = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(_canon(r[i]) for i in perm) for r in rows),
                  key=_sortkey)


def oracle_problems(cols: list[str], rows, con, sql: str) -> list[str]:
    """Mismatches between collected Spark rows and the DuckDB oracle, by
    the tolerant comparison of ``tests/oracle_harness.compare``."""
    from tests.oracle_harness import _rows_close

    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
        return [f"schema: spark={sorted(cols)} duck={sorted(dcols)}"]
    lower = [c.lower() for c in dcols]
    order = [lower.index(c.lower()) for c in cols]
    duck = _canonical(cols, [tuple(r[i] for i in order) for r in res.fetchall()])
    mine = _canonical(cols, rows)
    if len(mine) != len(duck):
        return [f"rowcount: spark={len(mine)} duck={len(duck)}"]
    bad = sum(not _rows_close(a, b) for a, b in zip(mine, duck))
    return [f"value mismatches: {bad}/{len(mine)}"] if bad else []


class QueryRunner:
    """Passes over the query mix on one table directory, with checks."""

    def __init__(self, spark, tables: str):
        from wod_ascii_to_parquet_spark_spark import registry

        self.spark, self.tables = spark, tables
        self.defs = registry.QUERIES  # filled by load_all_operators()
        self.tree = probe.ProcTree()
        self.expected: dict[str, list] = {}
        self.con = None  # DuckDB over the same tables, opened on first check
        self.cached_bytes = 0
        self.attempted = 0
        self.failed = 0

    def run_one(self, name: str) -> tuple[float, float]:
        """One query to a collected result; returns its wall and CPU
        seconds, which leave out the check. The first result of each query
        is checked against the oracle, later ones against the first."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        c0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            df = self.defs[name].fn(self.spark, self.tables)
            rows = df.collect()
        except Exception:  # one query's failure must not end the run
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, self.tree.cpu_s() - c0
        took = time.perf_counter() - t0, self.tree.cpu_s() - c0
        got = _canonical(df.columns, rows)
        if name not in self.expected:
            if self.con is None:
                from tests.oracle_harness import duck_connection

                self.con = duck_connection(self.tables)
            problems = oracle_problems(df.columns, rows, self.con,
                                       self.defs[name].oracle)
            self.expected[name] = got
        else:
            problems = [] if got == self.expected[name] else ["differs from pass 1"]
        if problems:
            print(f"{name}: {problems[:3]}", file=sys.stderr)
            self.failed += 1
        return took

    def run_pass(self, tracer=None) -> tuple[float, float, dict]:
        """Every query once, in order. Returns (wall, CPU, per-query s);
        wall and CPU count only the queries, not the checks."""
        # Each pass starts from a collected heap, as convert passes do, so
        # the JVM's peak does not depend on when its last collection ran.
        self.spark.sparkContext._jvm.System.gc()
        wall = cpu = 0.0
        per = {}
        for name in QUERIES:
            if tracer is None:
                w, c = self.run_one(name)
            else:
                w, c = self._traced_one(name, tracer)
            per[name] = w
            wall += w
            cpu += c
        return wall, cpu, per

    def _traced_one(self, name: str, tracer) -> tuple[float, float]:
        sc = self.spark.sparkContext
        tag = f"perfbench-q-{name}"
        sc.addJobTag(tag)
        try:
            with tracer.span("query.fn", query=name):
                took = self.run_one(name)
        finally:
            sc.removeJobTag(tag)
        # what the query's persist barriers still hold after its action
        self.cached_bytes = max(self.cached_bytes, probe.cached_bytes(self.spark))
        return took


def layer_metrics(qr: QueryRunner, per: dict) -> dict:
    """Per-query seconds of a traced pass and Spark-side totals per family,
    attributed by each query's job tag."""
    spark = qr.spark
    all_jobs = probe.jobs(spark)
    metrics = {f"q.{n}.s": (s, "s") for n, s in per.items()}
    everything = [j for j in all_jobs
                  if any(t.startswith("perfbench-q-") for t in j["tags"])]
    for fam in FAMILIES:
        tags = {f"perfbench-q-{n}" for n, f in QUERIES.items() if f == fam}
        mine = [j for j in everything if j["tags"] & tags]
        st = probe.stage_totals(spark, [s for j in mine for s in j["stages"]])
        metrics.update({
            f"ops.{fam}.task_cpu_s": (st["cpu_s"], "s"),
            f"ops.{fam}.tasks": (st["tasks"], "count"),
            f"ops.{fam}.shuffle_bytes": (st["shuffle_write"], "bytes"),
        })
    # GC and Python-worker time are zero for most single families at
    # these sizes, so they are reported for the whole mix.
    st = probe.stage_totals(spark, [s for j in everything for s in j["stages"]])
    sqlm = probe.sql_metric_totals(spark, {j["sql"] for j in everything} - {None})
    metrics["ops.gc_s"] = (st["gc_s"], "s")
    metrics["ops.python_worker_s"] = (
        sqlm.get("time to run Python workers", 0.0), "s")
    metrics["registry.cached_bytes"] = (qr.cached_bytes, "bytes")
    return metrics
