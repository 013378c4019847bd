"""warehouse_sql: one closed-loop client runs the reference's standing
queries and the wh_* analytics through ``plans.registry.queries()`` (the
public contract, with its cache-hygiene prologue) over sf0.01-sized tables
that the testdata-twin generators make from the seed. Each query is run to
completion into the ``noop`` sink. Per-query fixed costs dominate: plan
build, codegen, ``free_caches``, parquet scan.

The set-up pass doubles as the correctness check: every query's collected
result is compared with its DuckDB oracle by ``plans.diffcheck.compare_one``,
with ``engagement_pct`` computed in the oracles by the reference's exact
decimal arithmetic (see ``reference_sql``). Oracle results are cached per
(oracle SQL, input bytes), so a repeated seed skips DuckDB; the time spent
in DuckDB is kept out of ``setup_s``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import shutil
import statistics
import time

from catalog import WAREHOUSE_QUERIES
from common import Outcome, Tracer, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_CACHE = os.path.join(ROOT, ".bench_cache", "oracle")

# Rows per table: the shipped testdata's sf0.01 counts. Per-query fixed
# costs dominate at this size already, and a run at sf0.1 (about 30 s a
# pass on 4 cores) would not fit the benchmark's time budget.
ROWS = {
    "events": 10_000,
    "supplier": 100,
    "part": 2_000,
    "customer": 1_500,
    "orders": 15_000,
}
# One timed pass per this many seconds of the run. The pass count must not
# depend on speed: it sets the sample size, and with it the tail percentile.
SECONDS_PER_PASS = 5
TABLES = ("events", "supplier", "part", "customer", "orders", "lineitem", "nation", "region")

# engagement_pct as the reference defines it (EnrichedEvent.java:98-106,
# FIXTURES.md O5): engagement_seconds / length_seconds at scale 4 HALF_UP,
# times 100 at scale 2 HALF_UP, in BigDecimal. The cdc_* oracles (the
# ENRICHED_CTE of plans/cdc_mapping.py) divide in DOUBLE and round the
# binary value instead, so on an exact decimal tie they round down: 171 /
# 2400 = 0.07125 is 0.0712499... as a double, 7.12 %, where the reference
# (and the engine) give 7.13 %. The check runs the oracles with the exact
# form: HALF_UP of s * 10000 / L in integers, which the * 100 leaves exact
# at scale 2.
DOUBLE_PCT = "round(round((e.duration_ms // 1000) / c.length_seconds, 4) * 100, 2)"
EXACT_PCT = (
    "CAST(sign(e.duration_ms // 1000)"
    " * ((20000 * abs(CAST(e.duration_ms // 1000 AS BIGINT)) + c.length_seconds)"
    " // (2 * c.length_seconds)) AS DOUBLE) / 100"
)


def reference_sql(sql: str) -> str:
    """An oracle query with ``engagement_pct`` in the reference's exact
    arithmetic; every other part of it unchanged."""
    return sql.replace(DOUBLE_PCT, EXACT_PCT)


def _generators(spark, seed: int, share: float) -> dict:
    from cdc_poc_spark.sources import generator as G

    n = {t: max(1, int(rows * share)) for t, rows in ROWS.items()}
    return {
        "events": lambda: G.gen_testdata_events(spark, n["events"], seed=f"tdev-{seed}"),
        "supplier": lambda: G.gen_supplier(spark, n["supplier"], seed=f"tdsup-{seed}"),
        "part": lambda: G.gen_part(spark, n["part"], seed=f"tdpart-{seed}"),
        "customer": lambda: G.gen_customer(spark, n["customer"], seed=f"tdcust-{seed}"),
        "orders": lambda: G.gen_orders(spark, n["orders"], n["customer"], seed=f"tdord-{seed}"),
        "lineitem": lambda: G.gen_lineitem(
            spark, n["orders"], n["part"], n["supplier"], seed=f"tdli-{seed}"
        ),
        "nation": lambda: G.gen_nation(spark),
        "region": lambda: G.gen_region(spark),
    }


def generate(spark, sf_dir: str, seed: int, tracer, share: float = 1.0) -> int:
    """Write each table, ``share`` of its rows, as one parquet file: the
    layout both the registry loaders and the DuckDB oracles read. Returns
    the rows written."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir)
    gens = _generators(spark, seed, share)
    rows = 0
    for t in TABLES:
        part_dir = os.path.join(sf_dir, f"_{t}")
        with tracer.span("sources.generator"):
            gens[t]().coalesce(1).write.parquet(part_dir)
        (part,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        rows += pq.ParquetFile(part).metadata.num_rows
        os.replace(part, os.path.join(sf_dir, f"{t}.parquet"))
        shutil.rmtree(part_dir)
    return rows


class _Relation:
    def __init__(self, columns, types) -> None:
        self.columns = columns
        self.types = types


class _Result:
    def __init__(self, columns, rows) -> None:
        self.description = [(c,) for c in columns]
        self._rows = rows

    def fetchall(self):
        return self._rows


class CachedOracle:
    """Stands in for the DuckDB connection ``compare_one`` takes: answers
    ``sql(q).columns/.types`` and ``execute(q).description/.fetchall()``
    for ``reference_sql(q)``, from a cache keyed by that SQL and the bytes
    of the inputs, and runs DuckDB only on a miss. ``seconds`` is the time
    spent in DuckDB."""

    def __init__(self, sf_dir: str, tables, threads: int) -> None:
        self.sf_dir = sf_dir
        self.tables = tables
        self.threads = threads
        self.seconds = 0.0
        self.hits = 0
        self._con = None
        self._memo: dict[str, dict] = {}
        h = hashlib.sha256()
        for t in sorted(tables):
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(t.encode())
                h.update(hashlib.sha256(f.read()).digest())
        self._inputs = h.hexdigest()

    def _answer(self, sql: str) -> dict:
        sql = reference_sql(sql)
        if sql not in self._memo:
            self._memo[sql] = self._load_or_run(sql)
        return self._memo[sql]

    def _load_or_run(self, sql: str) -> dict:
        key = hashlib.sha256((self._inputs + sql).encode()).hexdigest()
        path = os.path.join(ORACLE_CACHE, f"{key}.pkl")
        if os.path.exists(path):
            self.hits += 1
            with open(path, "rb") as f:  # written by this benchmark only
                return pickle.load(f)
        t0 = time.perf_counter()
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {int(self.threads)}")
            for t in self.tables:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        rel = self._con.sql(sql)
        columns, types = list(rel.columns), [str(t) for t in rel.types]
        rows = self._con.execute(sql).fetchall()
        self.seconds += time.perf_counter() - t0
        out = {"columns": columns, "types": types, "rows": rows}
        os.makedirs(ORACLE_CACHE, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(out, f)
        os.replace(tmp, path)
        return out

    def sql(self, sql: str) -> _Relation:
        a = self._answer(sql)
        return _Relation(a["columns"], a["types"])

    def execute(self, sql: str) -> _Result:
        a = self._answer(sql)
        return _Result(a["columns"], a["rows"])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def run(session, seed: int, seconds: float, tracer) -> Outcome:
    from cdc_poc_spark.plans.diffcheck import compare_one
    from cdc_poc_spark.plans.registry import queries

    spark = session.spark
    names = WAREHOUSE_QUERIES
    sf_dir = os.path.join(session.work, "sf")

    # a tenth-size generation first takes the JVM's cold start, so that
    # bulk_eps is measured on compiled code
    t0 = time.perf_counter()
    generate(spark, os.path.join(session.work, "warm"), seed, Tracer(), share=0.1)
    t1 = time.perf_counter()
    rows = generate(spark, sf_dir, seed, tracer)
    gen_s = time.perf_counter() - t1

    # set-up pass: compile every plan and check every result
    oracle = CachedOracle(sf_dir, TABLES, session.cpus)
    failures: dict[str, str] = {}
    for n in names:
        try:
            r = compare_one(spark, oracle, n, sf_dir)
        except Exception as e:  # noqa: BLE001 — a failing query is counted
            failures[n] = f"{type(e).__name__}: {e}"[:300]
            continue
        if not r.ok:
            failures[n] = r.detail
    oracle.close()
    setup_s = time.perf_counter() - t0 - oracle.seconds

    reg = queries()
    latency: list[float] = []
    read: list[float] = []
    walls: list[float] = []
    per_query: dict[str, list[float]] = {}
    attempted = len(names)
    failed = len(failures)
    for _ in range(max(1, int(seconds // SECONDS_PER_PASS))):
        p0 = time.perf_counter()
        for n in names:
            attempted += 1
            try:
                a = time.perf_counter()
                df = reg[n](spark, sf_dir)
                b = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                c = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failing query is counted
                failed += 1
                failures.setdefault(n, f"{type(e).__name__}: {e}"[:300])
                continue
            latency.append(c - a)
            read.append(c - b)
            per_query.setdefault(n, []).append(c - a)
        walls.append(time.perf_counter() - p0)

    values = {"bulk_eps": rows / gen_s, "pass_s": statistics.median(walls)}
    lat = summarize(latency) if latency else None
    rd = summarize(read) if read else None
    if lat and rd:
        values.update(
            latency_p50_s=lat["p50"],
            latency_tail_s=lat["tail"],
            read_p50_ms=rd["p50"] * 1000,
            read_tail_ms=rd["tail"] * 1000,
        )
    detail = {
        "setup_s": setup_s,
        "generate_s": gen_s,
        "input_rows": rows,
        "oracle_s": oracle.seconds,
        "oracle_cache_hits": oracle.hits,
        "passes": walls,
        "query_s": {n: statistics.median(v) for n, v in per_query.items()},
        "latency_s": lat,
        "read_s": rd,
        "failures": failures,
    }
    return Outcome(setup_s, attempted, failed, values, detail, state=sf_dir)


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks Spark ran under one job group, from the
    public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def trace_layers(session, out: Outcome, tracer) -> dict[str, float]:
    """Passes with the raw registry (``queries(fresh=False)``), so
    ``free_caches`` is its own span: a traced pass between two untraced
    ones, whose mean wall it is compared with for the tracing overhead."""
    from cdc_poc_spark.plans.registry import queries
    from cdc_poc_spark.session import free_caches

    spark = session.spark
    sc = spark.sparkContext
    sf_dir: str = out.state
    raw = queries(fresh=False)

    def one_pass(tr: Tracer, tag: str) -> tuple[float, dict]:
        counts = {}
        t0 = time.perf_counter()
        for n in WAREHOUSE_QUERIES:
            with tr.span("session.free_caches"):
                free_caches(spark)
            group = f"{tag}-{n}"
            sc.setJobGroup(group, n)
            with tr.span(f"registry.{n}.build"):
                df = raw[n](spark, sf_dir)
            with tr.span(f"registry.{n}.action"):
                df.write.format("noop").mode("overwrite").save()
            counts[n] = _job_counts(sc, group)
        sc.setJobGroup("", "")
        return time.perf_counter() - t0, counts

    before_s, _ = one_pass(Tracer(), "before")
    mark = len(tracer.spans)
    traced_s, counts = one_pass(tracer, "traced")
    after_s, _ = one_pass(Tracer(), "after")
    totals = tracer.totals(mark)
    layers = {
        "session.free_caches_s": totals["session.free_caches"],
        "spark.jobs": sum(c[0] for c in counts.values()),
        "spark.stages": sum(c[1] for c in counts.values()),
        "spark.tasks": sum(c[2] for c in counts.values()),
        "trace.overhead_s": traced_s - (before_s + after_s) / 2,
        "trace.spans": len(tracer.spans),
    }
    for n in WAREHOUSE_QUERIES:
        layers[f"registry.{n}.build_s"] = totals[f"registry.{n}.build"]
        layers[f"registry.{n}.action_s"] = totals[f"registry.{n}.action"]
        layers[f"spark.{n}.tasks"] = counts[n][2]
    return layers
