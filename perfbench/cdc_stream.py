"""cdc_stream: the reference's purpose, keeping serving views fresh under a
CDC stream. Open loop, two phases.

Backfill: a backlog of history spread over many hour partitions, replayed
by one ``availableNow`` run (bulk parse, enrich and ``write_warehouse``).

Live: one load-generator thread writes Debezium wire files at the
reference's 3,333 events/s on a fixed tick and never slows when the engine
does. The engine runs ``availableNow`` increments back to back on one
checkpoint (the 30 s ``processingTime`` trigger would add a 0-30 s schedule
wait to every sample). One reader thread reads two serving views in a
closed loop beside the writes, so a change that speeds one side at the
other's cost shows.

Freshness of a wire file: from its write to the return of the increment
that made it visible in the serving views.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

from catalog import READ_VIEWS
from common import Outcome, map_files_to_increments, summarize

RATE = 3333  # events/s: the reference's 1M rows / 5 min ingest SLA
TICK_MS = 100
# The backlog: about 100k events of history spread over two days of hour
# partitions, so the bulk run writes many partitions at once.
BACKFILL_EVENTS = 100_000
BACKFILL_FILES = 24
BACKFILL_HOURS = 48
# The traffic mix of the repo's standing CDC fixture (plans/registry.py,
# FIXTURES.md section 4): every 20th event id is a delete (after = null),
# and one malformed record comes with every 97 events.
DELETE_MOD = 20
CORRUPT_MOD = 97
MALFORMED = '{"payload": not-json}'
# Backlog lines in the two warmup increments: one bulk-sized, then one of
# about a live increment's size (two seconds at RATE).
WARMUP_LINES = (12_000, 6_000)
DRAIN_LIMIT_S = 60.0


def _with_malformed(slices, phase: int) -> list[tuple[int, int, int]]:
    """``(lo, hi, bad)`` per file: ``bad`` malformed records follow the
    event lines ``[lo, hi)``, one for each line index ``i`` in the slice with
    ``i % CORRUPT_MOD == phase``."""

    def upto(i: int) -> int:  # indices below i that carry a malformed record
        return (i - phase + CORRUPT_MOD - 1) // CORRUPT_MOD

    return [(lo, hi, upto(hi) - upto(lo)) for lo, hi in slices]


def wire_layout(seed: int, n_lines: int, n_files: int) -> list[tuple[int, int, int]]:
    """Backlog files: ``n_files`` contiguous slices of the event lines, each
    with its malformed records; the seed places them."""
    phase = random.Random(f"backfill-{seed}").randrange(CORRUPT_MOD)
    return _with_malformed(
        [(n_lines * i // n_files, n_lines * (i + 1) // n_files) for i in range(n_files)],
        phase,
    )


def live_schedule(seed: int, seconds: float) -> list[tuple[int, int, int]]:
    """Live files, one per tick: the slice of the live event lines due in
    that tick at ``RATE``, with its malformed records; the seed places
    them."""
    phase = random.Random(f"live-{seed}").randrange(CORRUPT_MOD)
    n_ticks = max(1, int(seconds * 1000) // TICK_MS)
    return _with_malformed(
        [(RATE * k * TICK_MS // 1000, RATE * (k + 1) * TICK_MS // 1000) for k in range(n_ticks)],
        phase,
    )


def _file_body(lines: list[str], lo: int, hi: int, bad: int) -> tuple[str, int]:
    body = lines[lo:hi] + [MALFORMED] * bad
    return "\n".join(body) + "\n", len(body)


class LoadGen(threading.Thread):
    """Writes one wire file per tick, each due at a fixed time from the
    start. A late write is made at once (the schedule never slips), and
    its lateness is recorded. Files are written aside and renamed in, so
    the engine never lists a partial file."""

    def __init__(self, lines, schedule, wire_dir, stage_dir, tracer) -> None:
        super().__init__(name="loadgen", daemon=True)
        self.lines = lines
        self.schedule = schedule
        self.wire_dir = wire_dir
        self.stage_dir = stage_dir
        self.tracer = tracer
        self.writes: list[tuple[float, int]] = []  # (visible at, lines)
        self.lag_max_s = 0.0
        self.error: BaseException | None = None
        self.started_at = 0.0

    def run(self) -> None:
        try:
            self.started_at = time.perf_counter()
            for k, (lo, hi, bad) in enumerate(self.schedule):
                due = self.started_at + (k + 1) * TICK_MS / 1000.0
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                with self.tracer.span("loadgen.write"):
                    body, n = _file_body(self.lines, lo, hi, bad)
                    name = f"live-{k:06d}.json"
                    staged = os.path.join(self.stage_dir, name)
                    with open(staged, "w") as f:
                        f.write(body)
                    os.replace(staged, os.path.join(self.wire_dir, name))
                now = time.perf_counter()
                self.writes.append((now, n))
                self.lag_max_s = max(self.lag_max_s, now - due)
        except BaseException as e:  # noqa: BLE001 — re-raised by the main thread
            self.error = e


class Reader(threading.Thread):
    """Closed-loop reads of the serving views: the next read starts when
    the previous one returns."""

    def __init__(self, spark, tracer) -> None:
        super().__init__(name="reader", daemon=True)
        self.spark = spark
        self.tracer = tracer
        self.stop = threading.Event()
        self.reads: dict[str, list[float]] = {v: [] for v in READ_VIEWS}
        self.passes: list[float] = []
        self.attempted = 0
        self.failed = 0

    def run(self) -> None:
        while not self.stop.is_set():
            p0 = time.perf_counter()
            ok = True
            for v in READ_VIEWS:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"aggregates.{v}.read"):
                        self.spark.table(f"serving_{v}").collect()
                except Exception:  # noqa: BLE001 — a failed read is counted
                    self.failed += 1
                    ok = False
                    continue
                self.reads[v].append(time.perf_counter() - t0)
            if ok:
                self.passes.append(time.perf_counter() - p0)


@dataclass
class Increment:
    start: float
    end: float
    rows: int
    durations_ms: dict[str, int] = field(default_factory=dict)


class Engine:
    """The system under test: ``run_cdc_pipeline`` increments on one
    checkpoint, each an ``availableNow`` run to completion."""

    def __init__(self, spark, wire_dir: str, dim, base: str, tracer) -> None:
        from cdc_poc_spark.schemas import ENGAGEMENT_EVENT_SCHEMA
        from cdc_poc_spark.streaming import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.schema = ENGAGEMENT_EVENT_SCHEMA
        self.src = pipeline.file_wire_source(spark, wire_dir, ENGAGEMENT_EVENT_SCHEMA)
        self.dim = dim
        self.cfg = pipeline.PipelineConfig(
            checkpoint_dir=os.path.join(base, "ckpt"),
            warehouse_path=os.path.join(base, "warehouse"),
        )
        self.tracer = tracer

    def increment(self) -> Increment:
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.increment"):
            q = self.pipeline.run_cdc_pipeline(
                self.spark, self.src, self.dim, self.schema, self.cfg
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        progress = q.recentProgress
        durations: dict[str, int] = {}
        for p in progress:
            for k, v in (p.durationMs or {}).items():
                durations[k] = durations.get(k, 0) + int(v)
        return Increment(t0, t1, sum(p.numInputRows for p in progress), durations)


def _generate(spark, seed: int, n_live: int, dim_path: str):
    """The seeded inputs: the content dimension (written once, read back as
    a table), the events, and their Debezium wire lines split into backlog
    and live."""
    from pyspark.sql import functions as F

    from cdc_poc_spark.sources import generator as G

    G.gen_content(spark, 15, seed=f"content-{seed}").write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    i = F.col("id")
    events = G.gen_events(
        spark, dim, BACKFILL_EVENTS + n_live, seed=f"events-{seed}"
    ).withColumn(
        # the backlog spans BACKFILL_HOURS hour partitions of history
        "event_ts",
        F.when(
            i < BACKFILL_EVENTS,
            F.col("event_ts")
            - F.make_interval(hours=(i % BACKFILL_HOURS + 1).cast("int")),
        ).otherwise(F.col("event_ts")),
    ).persist()  # read again by the checks

    def lines(cond, name: str) -> list[str]:
        # written by Spark and read back in part order: cheaper than
        # collecting the strings through py4j
        out = os.path.join(os.path.dirname(dim_path), name)
        G.wire_encode(events.filter(cond), delete_mod=DELETE_MOD).write.text(out)
        got: list[str] = []
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part) as f:
                got += f.read().splitlines()
        return got

    return (
        dim,
        events,
        lines(i < BACKFILL_EVENTS, "gen-backfill"),
        lines(i >= BACKFILL_EVENTS, "gen-live"),
    )


def _write_files(wire_dir: str, prefix: str, lines, layout) -> list[int]:
    counts = []
    for k, (lo, hi, bad) in enumerate(layout):
        body, n = _file_body(lines, lo, hi, bad)
        with open(os.path.join(wire_dir, f"{prefix}-{k:06d}.json"), "w") as f:
            f.write(body)
        counts.append(n)
    return counts


def _warmup(spark, dim, lines, work: str, tracer) -> None:
    """A bulk-sized and then a live-sized increment of backlog lines, with
    reads of the serving views, on a throwaway checkpoint: the timed phases
    run compiled code for both shapes."""
    wire = os.path.join(work, "warm-wire")
    os.makedirs(wire)
    eng = Engine(spark, wire, dim, os.path.join(work, "warm"), tracer)
    lo = 0
    for k, n in enumerate(WARMUP_LINES):
        hi = lo + n
        _write_files(wire, f"w{k}", lines[lo:hi], [(0, hi - lo, 1)])
        lo = hi
        eng.increment()
        for v in READ_VIEWS:
            spark.table(f"serving_{v}").collect()


def _fingerprint(df) -> tuple:
    """Row count and an order-insensitive sum of row hashes: equal for two
    DataFrames holding the same multiset of rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    return tuple(df.select(F.count(F.lit(1)), F.sum(h)).first())


def _same_rows(a, b) -> bool:
    return _fingerprint(a) == _fingerprint(b)


def _checks(spark, eng: Engine, events, n_events: int, dim_path: str) -> dict[str, bool]:
    """The stream's outputs against the generated input: warehouse rows are
    the non-delete events sent, and each serving view equals
    ``operators.aggregates`` over those events."""
    from pyspark.sql import functions as F

    from cdc_poc_spark.operators import aggregates
    from cdc_poc_spark.operators.enrich import enrich
    from cdc_poc_spark.streaming.sinks import SERVING_VIEWS

    cols = ["content_id", "user_id", "event_type", "event_ts", "duration_ms", "device", "raw_payload"]
    sent = events.filter((F.col("id") < n_events) & (F.col("id") % DELETE_MOD != 0))
    landed = spark.read.parquet(eng.cfg.warehouse_path).select(
        F.col("event_id").alias("id"), *cols
    )
    out = {"warehouse_rows": _same_rows(landed, sent.select("id", *cols))}
    # a fresh read of the dimension: ``events`` already joins the first one
    enriched = enrich(sent, spark.read.parquet(dim_path)).persist()
    for v in SERVING_VIEWS:
        want = getattr(aggregates, v)(enriched)
        out[f"view_{v}"] = _same_rows(spark.table(f"serving_{v}"), want)
    return out


@dataclass
class State:
    engine: Engine
    dim: object
    work: str
    backfill_files: list[str]
    live: list[Increment]
    live_files: list[list[str]]
    gen: LoadGen
    reader: Reader


def run(session, seed: int, seconds: float, tracer) -> Outcome:
    spark = session.spark
    work = session.work
    schedule = live_schedule(seed, seconds)
    n_live = schedule[-1][1]

    t_setup = time.perf_counter()
    dim, events, back_lines, live_lines = _generate(
        spark, seed, n_live, os.path.join(work, "dim")
    )
    wire_dir = os.path.join(work, "wire")
    stage_dir = os.path.join(work, "stage")
    os.makedirs(wire_dir)
    os.makedirs(stage_dir)
    layout = wire_layout(seed, len(back_lines), BACKFILL_FILES)
    back_counts = _write_files(wire_dir, "backfill", back_lines, layout)
    gen_s = time.perf_counter() - t_setup
    _warmup(spark, dim, back_lines, work, tracer)
    setup_s = time.perf_counter() - t_setup

    attempted = failed = 0
    eng = Engine(spark, wire_dir, dim, os.path.join(work, "run"), tracer)
    backfill = eng.increment()
    attempted += 1
    failed += backfill.rows != sum(back_counts)

    gen = LoadGen(live_lines, schedule, wire_dir, stage_dir, tracer)
    reader = Reader(spark, tracer)
    n_lines_live = sum(hi - lo + bad for lo, hi, bad in schedule)
    live: list[Increment] = []
    consumed = 0
    reader.start()
    gen.start()
    deadline = time.perf_counter() + seconds + DRAIN_LIMIT_S
    try:
        while consumed < n_lines_live and time.perf_counter() < deadline:
            if not gen.is_alive():
                if gen.error is not None:
                    raise gen.error
                reader.stop.set()  # reads are sampled during live ingest only
            attempted += 1
            try:
                inc = eng.increment()
            except Exception:  # noqa: BLE001 — a failed increment is counted
                failed += 1
                continue
            if inc.rows:
                live.append(inc)
                consumed += inc.rows
    finally:
        reader.stop.set()
        gen.join(timeout=DRAIN_LIMIT_S)
        reader.join(timeout=DRAIN_LIMIT_S)
    if gen.error is not None:
        raise gen.error
    attempted += reader.attempted
    failed += reader.failed

    file_lines = [n for _, n in gen.writes]
    cumulative, acc = [], 0
    for inc in live:
        acc += inc.rows
        cumulative.append(acc)
    mapping = map_files_to_increments(file_lines, cumulative)
    checks = {
        "all_lines_consumed": consumed == n_lines_live == sum(file_lines),
        "files_map_to_increments": mapping is not None and -1 not in mapping,
    }
    t_checks = time.perf_counter()
    checks.update(
        _checks(spark, eng, events, BACKFILL_EVENTS + n_live, os.path.join(work, "dim"))
    )
    checks_s = time.perf_counter() - t_checks
    attempted += len(checks)
    failed += sum(not ok for ok in checks.values())

    fresh = (
        [live[k].end - w for (w, _), k in zip(gen.writes, mapping)]
        if checks["files_map_to_increments"]
        else []
    )
    reads = [t for v in READ_VIEWS for t in reader.reads[v]]
    f_sum = summarize(fresh) if fresh else None
    r_sum = summarize(reads) if reads else None
    live_wall = (live[-1].end - gen.started_at) if live else 0.0
    values = {
        "bulk_eps": backfill.rows / (backfill.end - backfill.start),
        "pass_s": statistics.median(reader.passes) if reader.passes else 0.0,
    }
    if f_sum:
        values.update(latency_p50_s=f_sum["p50"], latency_tail_s=f_sum["tail"])
    if r_sum:
        values.update(read_p50_ms=r_sum["p50"] * 1000, read_tail_ms=r_sum["tail"] * 1000)
    detail = {
        "setup_s": setup_s,
        "generate_s": gen_s,
        "checks_s": checks_s,
        "backfill": {"events": backfill.rows, "wall_s": backfill.end - backfill.start},
        "live": {
            "files": len(file_lines),
            "lines": n_lines_live,
            "increments": len(live),
            "wall_s": live_wall,
            "events_per_s": consumed / live_wall if live_wall else 0.0,
            "loadgen_lag_max_ms": gen.lag_max_s * 1000,
        },
        "freshness_s": f_sum,
        "serving_read_s": r_sum,
        "reader_passes": len(reader.passes),
        "checks": checks,
    }
    live_files = []
    if mapping is not None:
        names = [f"live-{k:06d}.json" for k in range(len(file_lines))]
        live_files = [
            [os.path.join(wire_dir, n) for n, m in zip(names, mapping) if m == k]
            for k in range(len(live))
        ]
    state = State(
        engine=eng,
        dim=dim,
        work=work,
        backfill_files=[
            os.path.join(wire_dir, f"backfill-{k:06d}.json") for k in range(len(layout))
        ],
        live=live,
        live_files=live_files,
        gen=gen,
        reader=reader,
    )
    return Outcome(setup_s, attempted, failed, values, detail, state)


# --------------------------------------------------------------- traced part


def _replay(spark, st: State, files: list[str], wh: str, tracer, prefix: str) -> int:
    """One increment's files pushed through the public functions that
    ``process_batch`` composes. Lazy stages are timed by prefix, each
    materialized to the ``noop`` sink. Returns the parquet files written."""
    from cdc_poc_spark.operators.enrich import enrich
    from cdc_poc_spark.sources import debezium
    from cdc_poc_spark.streaming import sinks

    before = _parquet_files(wh)
    parsed = debezium.parse_envelope(spark.read.text(files), st.engine.schema)
    enriched = enrich(debezium.good_rows(parsed), st.dim)
    with tracer.span("replay"):
        with tracer.span("debezium.parse"):
            parsed.write.format("noop").mode("overwrite").save()
        with tracer.span("enrich.parse_enrich"):
            enriched.write.format("noop").mode("overwrite").save()
        with tracer.span("sinks.parse_enrich_write"):
            sinks.write_warehouse(enriched, wh)
        with tracer.span("sinks.refresh_serving_views"):
            sinks.refresh_serving_views(spark, wh, prefix)
    return _parquet_files(wh) - before


def _parquet_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def trace_layers(session, out: Outcome, tracer) -> dict[str, float]:
    from cdc_poc_spark.operators.enrich import enrichment_misses
    from cdc_poc_spark.sources import debezium

    from common import Tracer

    spark = session.spark
    st: State = out.state
    layers: dict[str, float] = {"loadgen.lag_max_ms": st.gen.lag_max_s * 1000}

    # pipeline.*: the progress events of the live increments
    live = st.live
    n = len(live)
    wall = sum(i.end - i.start for i in live)
    trig = sum(i.durations_ms.get("triggerExecution", 0) for i in live) / 1000
    part = {
        "latest_offset": ("latestOffset",),
        "add_batch": ("addBatch",),
        "commit": ("commitOffsets", "commitBatch"),
        "other": ("getBatch", "queryPlanning", "walCommit", "setOffsetRange", "getEndOffset"),
    }
    sums = {
        k: sum(i.durations_ms.get(key, 0) for i in live for key in keys) / 1000
        for k, keys in part.items()
    }
    if n:
        layers.update({f"pipeline.{k}_s": v / n for k, v in sums.items()})
        layers["pipeline.start_s"] = (wall - trig) / n
        layers["pipeline.coverage"] = ((wall - trig) + sum(sums.values())) / wall
        layers["pipeline.increments"] = n
        layers["pipeline.events_per_increment"] = sum(i.rows for i in live) / n
        layers["pipeline.live_eps"] = out.detail["live"]["events_per_s"]
    for v in READ_VIEWS:
        reads = st.reader.reads[v]
        if reads:
            layers[f"aggregates.{v}.read_s"] = statistics.mean(reads)

    # tracing overhead on a quarter of the backlog, after one replay that
    # compiles the plans: a traced replay between two untraced ones, so
    # that drift and warmup cancel out
    base = os.path.join(st.work, "replay")
    part = st.backfill_files[: max(1, len(st.backfill_files) // 4)]
    walls = []
    for k, tr in enumerate((Tracer(), Tracer(), Tracer(enabled=True), Tracer())):
        t0 = time.perf_counter()
        _replay(spark, st, part, os.path.join(base, f"overhead{k}"), tr, f"overhead{k}_")
        walls.append(time.perf_counter() - t0)
    layers["trace.overhead_s"] = walls[2] - (walls[1] + walls[3]) / 2

    # the same increments replayed through the public functions, traced
    wh = os.path.join(base, "traced")
    mark = len(tracer.spans)
    files_written = _replay(spark, st, st.backfill_files, wh, tracer, "replay_")
    refresh_start = len(tracer.spans)
    for files in st.live_files:
        files_written += _replay(spark, st, files, wh, tracer, "replay_")
    t = tracer.totals(mark)
    parse, pe, pew = t["debezium.parse"], t["enrich.parse_enrich"], t["sinks.parse_enrich_write"]
    layers["debezium.parse_s"] = parse
    layers["enrich.self_s"] = pe - parse
    layers["sinks.write_warehouse_s"] = pew - pe
    layers["sinks.files_written"] = files_written
    if st.live_files:
        live_refresh = tracer.totals(refresh_start)["sinks.refresh_serving_views"]
        layers["sinks.refresh_serving_views_s"] = live_refresh / len(st.live_files)
    layers["sinks.warehouse_files"] = _parquet_files(st.engine.cfg.warehouse_path)

    all_files = st.backfill_files + [f for fs in st.live_files for f in fs]
    parsed = debezium.parse_envelope(spark.read.text(all_files), st.engine.schema)
    total = parsed.count()
    layers["debezium.dead_letter_ratio"] = debezium.dead_letters(parsed).count() / total
    good = debezium.good_rows(parsed)
    layers["enrich.miss_ratio"] = enrichment_misses(good, st.dim).count() / good.count()

    # single-core reference: a quarter of the backlog on local[1]
    spark = session.restart(1)
    dim = spark.read.parquet(os.path.join(st.work, "dim"))
    one_wire = os.path.join(st.work, "wire-1core")
    os.makedirs(one_wire)
    for f in part:
        os.link(f, os.path.join(one_wire, os.path.basename(f)))
    eng = Engine(spark, one_wire, dim, os.path.join(st.work, "run-1core"), Tracer())
    inc = eng.increment()
    layers["pipeline.backfill_eps_1core"] = inc.rows / (inc.end - inc.start)
    layers["trace.spans"] = len(tracer.spans)
    return layers

