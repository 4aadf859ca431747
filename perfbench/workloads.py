"""The benchmark's workloads.

Each workload drives the engine through its public API: the query
registry (``__spark_entry__.queries()``), ``plans.pipeline.Pipeline``,
the ``books`` Python data source, the parquet sink writer and
``streaming.windows.session_windows``. A workload has four steps:

- ``setup``: generate its inputs (part of ``setup_s``);
- ``warmup``: first runs that pay JIT, codegen and Python-worker start
  (part of ``setup_s``);
- ``measure``: the timed loop with tracing off, then the output checks,
  filling ``ctx.e2e``;
- ``trace``: the same pass untraced, traced (spans and job groups on)
  and untraced again, then the output checks, filling ``ctx.layer``.

Every workload stops Spark (``ctx.stop_spark``) before it returns, which
records peak RSS and reads the event log of a traced run.
"""

from __future__ import annotations

import random
import threading
import time
from datetime import datetime

from stats import median, tail_percentile

# Scale of the generated star-schema tables (sf0.01: 60k lineitem rows).
SF = 0.01
# etl_books: rows of the books source, read as BOOKS_PAGES pages.
N_BOOKS = 100_000
BOOKS_PAGES = 8
# stream_events: events replayed as EVENT_FILES files, one per trigger.
N_EVENTS = 18_000
EVENT_FILES = 3
# Out-of-order bound of the event stream: well inside the 2 h watermark.
EVENT_JITTER_US = 20 * 60 * 1_000_000
# Timed iterations per run, at least; more while --seconds allows.
MIN_ITERATIONS = 1

# headline_mix: bench.HEADLINE queries that ROADMAP item 3 targets: one
# relational window query and one relational multi-job query (planning,
# windows, shuffles), and two LLM/graph queries (functions.*,
# compat.staged_checkpoint, session caches, pandas UDFs). Per-query layer
# metrics (q.<name>.*) are reported for each of them.
HEADLINE_MIX = [
    "window_rank_lag_lead",
    "events_rfm_quantile_cutoffs",
    "dedup_minhash_lsh",
    "graph_bfs_frontier",
]

# Metrics every workload reports: (name, unit).
END_TO_END = [
    ("setup_s", "s"),
    ("run_s", "s"),
    ("noop_run_s", "s"),
]
LAYER = [
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("catalog.scan_bytes", "bytes"),
    ("catalog.scan_rows", "rows"),
    ("books_source.read_s", "s"),
    ("books_source.partitions", "count"),
    ("exec.python_bytes", "bytes"),
    ("standardise.s", "s"),
    ("enrich.s", "s"),
    ("pipeline.attempts", "count"),
    ("pipeline.stage_rows_in", "rows"),
    ("pipeline.stage_rows_out", "rows"),
    ("pipeline.source_scans", "ratio"),
    ("pipeline.sink_s.books", "s"),
    ("pipeline.sink_s.enriched", "s"),
    ("sinks.write_s", "s"),
    ("sinks.files", "count"),
    ("sinks.bytes_per_row", "bytes/row"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("compat.checkpoint_jobs", "count"),
    ("compat.checkpoint_s", "s"),
    ("compat.cached_bytes", "bytes"),
    ("queries.action_s", "s"),
    ("queries.action_jobs", "count"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("queries.noop_action_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    *[
        (f"q.{q}.{m}", unit)
        for q in HEADLINE_MIX
        for m, unit in (("build_s", "s"), ("jobs", "count"), ("noop_ratio", "ratio"))
    ],
    ("streaming.batches", "count"),
    ("streaming.input_rows", "rows"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.commit_ms", "ms"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.late_dropped_rows", "rows"),
    ("trace.overhead_ratio", "ratio"),
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def repeat(seconds: float, step) -> int:
    """Call ``step`` MIN_ITERATIONS times, then again while one more call
    should end within ``seconds`` of the first; returns the count."""
    t0 = time.perf_counter()
    n = 0
    while True:
        s0 = time.perf_counter()
        step()
        n += 1
        now = time.perf_counter()
        if n >= MIN_ITERATIONS and now - t0 + (now - s0) > seconds:
            return n


def result_diff(got, want) -> str | None:
    """tools/check_oracle.py's comparison of two (columns, rows) results:
    column names (case-blind), then the order-insensitive multiset of
    normalized values. None when equal, else what differs."""
    from check_oracle import df_multiset

    gcols, wcols = ([c.lower() for c in r[0]] for r in (got, want))
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    g, w = df_multiset(gcols, got[1]), df_multiset(wcols, want[1])
    if g == w:
        return None
    return (
        f"{len(got[1])} rows vs {len(want[1])} expected; "
        f"missing {list((w - g).items())[:2]} extra {list((g - w).items())[:2]}"
    )


def _exec_layer(ctx, root) -> None:
    """The exec.* and catalog.* metrics of the jobs under span ``root``."""
    from eventlog import sum_groups

    t = sum_groups(ctx.by_group, ctx.tracer.groups([root]))
    ctx.layer.update(
        {
            "exec.jobs": t.jobs,
            "exec.stages": t.stages,
            "exec.tasks": t.tasks,
            "exec.task_s": t.task_s,
            "exec.cpu_s": t.cpu_s,
            "exec.gc_s": t.gc_s,
            "exec.shuffle_write_bytes": t.shuffle_write_bytes,
            "exec.shuffle_read_bytes": t.shuffle_read_bytes,
            "exec.spill_bytes": t.spill_bytes,
            "exec.python_bytes": t.python_bytes,
            "catalog.scan_bytes": t.input_bytes,
            "catalog.scan_rows": t.input_rows,
        }
    )


def _span_s(span) -> float:
    return span["end"] - span["start"]


class HeadlineMix:
    """The HEADLINE_MIX queries over tables generated from the seed. A
    pass builds each query once, runs bench.py's action (``count()``) on
    it, then writes it to a noop sink. The seed fixes the query order.

    The first pass after setup is a warm-up whose times are dropped (each
    query's first codegen and cache builds); the DuckDB oracles of the
    output check run in a thread meanwhile."""

    def setup(self, ctx) -> None:
        from datagen import write_tables

        self.data = str(ctx.work / "data")
        write_tables(self.data, SF, ctx.seed)
        self.order = list(HEADLINE_MIX)
        random.Random(ctx.seed).shuffle(self.order)
        self.qs = ctx.entry.queries()
        self.cached_bytes = 0

    def warmup(self, ctx) -> None:
        # JIT of the scan, aggregate and shuffle paths, on a headline
        # query outside the mix (the mix itself runs no Python UDF).
        self.qs["q1_pricing_summary"](ctx.spark, self.data).collect()

    def _pass(self, ctx):
        """({query: (build_s, action_s, noop_s)}, {query: DataFrame})."""
        times, frames = {}, {}
        tr = ctx.tracer
        for name in self.order:
            try:
                t0 = time.perf_counter()
                with tr.span("queries.build", query=name):
                    df = self.qs[name](ctx.spark, self.data)
                t1 = time.perf_counter()
                with tr.span("queries.action", query=name):
                    df.count()
                t2 = time.perf_counter()
                with tr.span("queries.noop_action", query=name):
                    noop(df)
                t3 = time.perf_counter()
                times[name], frames[name] = (t1 - t0, t2 - t1, t3 - t2), df
                if tr.enabled:
                    self.cached_bytes = max(self.cached_bytes, ctx.cached_bytes())
            except Exception as exc:  # noqa: BLE001 — counted, reported
                ctx.fail(f"{name}: {exc}")
            ctx.attempted += 2
        return times, frames

    def _warm_pass_with_oracles(self, ctx) -> dict:
        """The untimed warm-up pass, with every oracle computed in DuckDB
        meanwhile; returns {query: (columns, rows) or exception}."""
        import duckdb
        from check_oracle import TABLES

        oracles = ctx.entry.oracle_sql()
        expected: dict = {}

        def run_oracles():
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')"
                )
            for name in self.order:
                try:
                    res = con.execute(oracles[name])
                    expected[name] = ([d[0] for d in res.description], res.fetchall())
                except Exception as exc:  # noqa: BLE001
                    expected[name] = exc
            con.close()

        th = threading.Thread(target=run_oracles)
        th.start()
        t0 = time.perf_counter()
        self._pass(ctx)
        th.join()
        ctx.notes["warm_pass_s"] = round(time.perf_counter() - t0, 3)
        return expected

    def check(self, ctx, frames: dict, expected: dict) -> None:
        """Every query's rows (from the last pass's frames) against its
        oracle; stops Spark."""
        got = {}
        for name, df in frames.items():
            try:
                got[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001
                got[name] = exc
        ctx.stop_spark()
        for name in self.order:
            ctx.attempted += 1
            g = got.get(name, RuntimeError("not built"))
            e = expected[name]
            if isinstance(g, Exception) or isinstance(e, Exception):
                ctx.fail(f"check {name}: {g if isinstance(g, Exception) else e}")
            elif diff := result_diff(g, e):
                ctx.fail(f"check {name}: {diff}")

    def measure(self, ctx) -> None:
        expected = self._warm_pass_with_oracles(ctx)
        samples: dict = {n: [] for n in self.order}
        last: dict = {}

        def step():
            times, frames = self._pass(ctx)
            for name, s in times.items():
                samples[name].append(s)
            last["frames"] = frames

        ctx.notes["passes"] = repeat(ctx.seconds, step)
        self.check(ctx, last["frames"], expected)
        ctx.notes["samples_s"] = {
            n: [[round(x, 3) for x in t] for t in s] for n, s in samples.items()
        }
        ctx.e2e["run_s"] = sum(median(b + a for b, a, _ in s) for s in samples.values())
        ctx.e2e["noop_run_s"] = sum(
            median(b + n for b, _, n in s) for s in samples.values()
        )
        per_query = [b + a for s in samples.values() for b, a, _ in s]
        ctx.extra["op_ms_p50"] = (median(per_query) * 1e3, "ms")

    def trace(self, ctx) -> None:
        from eventlog import sum_groups

        expected = self._warm_pass_with_oracles(ctx)

        def untraced_pass() -> float:
            t0 = time.perf_counter()
            self._pass(ctx)
            return time.perf_counter() - t0

        before = untraced_pass()
        tr = ctx.tracer
        tr.enabled = True
        with tr.span("traced_pass") as root:
            timings, frames = self._pass(ctx)
        tr.enabled = False
        after = untraced_pass()
        self.check(ctx, frames, expected)
        L, by = ctx.layer, ctx.by_group
        L["trace.overhead_ratio"] = _span_s(root) / median([before, after])
        builds = tr.named("queries.build")
        actions = tr.named("queries.action")
        checkpoints = tr.outermost("compat.checkpoint")
        L["queries.build_s"] = tr.duration(builds)
        L["queries.build_jobs"] = sum_groups(by, tr.groups(builds)).jobs
        L["queries.action_s"] = tr.duration(actions)
        L["queries.action_jobs"] = sum_groups(by, tr.groups(actions)).jobs
        L["queries.noop_action_s"] = tr.duration(tr.named("queries.noop_action"))
        L["compat.checkpoint_s"] = tr.duration(checkpoints)
        L["compat.checkpoint_jobs"] = sum_groups(by, tr.groups(checkpoints)).jobs
        L["compat.cached_bytes"] = self.cached_bytes
        _exec_layer(ctx, root)
        for name, (b, a, n) in timings.items():
            spans = tr.named("queries.build", query=name) + tr.named(
                "queries.action", query=name
            )
            L[f"q.{name}.build_s"] = b
            L[f"q.{name}.jobs"] = sum_groups(by, tr.groups(spans)).jobs
            L[f"q.{name}.noop_ratio"] = n / a


# Authors in the books source: "author {(i * 13) % 40}".
ENRICHED_ROWS = 40
# enrich_metrics over standardise_books over the books source, in DuckDB.
ENRICH_ORACLE = r"""
WITH {cte},
books AS (
    SELECT title AS Title, author AS Author,
           TRY_CAST(price AS DOUBLE) AS Price,
           TRY_CAST(regexp_extract(rating, '(\d\.\d)', 1) AS DOUBLE) AS Rating,
           TRY_CAST(replace(rating_count, ',', '') AS BIGINT) AS Rating_count
    FROM raw
)
SELECT Author,
       CAST(sum(CAST(Rating AS DECIMAL(8,2))
                * CAST(Rating_count AS DECIMAL(14,0))) AS DOUBLE)
           / sum(Rating_count) AS Average_rating,
       CAST(sum(CAST(Price AS DECIMAL(14,2))) AS DOUBLE) / count(Price)
           AS Average_price,
       CAST(sum(Rating_count) AS BIGINT) AS Total_rating_count,
       CAST(sum(CAST(Rating AS DECIMAL(8,2))
                * CAST(Rating_count AS DECIMAL(14,0))) AS DOUBLE)
           AS Sum_rating_count_rating,
       count(*) AS Book_count
FROM books
GROUP BY Author
"""


class EtlBooks:
    """The reference job: books source → standardise → fan-out to the
    cleaned-rows sink and the per-author enrich sink. An iteration is one
    run with parquet sinks and one with noop sinks."""

    def setup(self, ctx) -> None:
        from orchestrated_etl_spark.sources.books_source import register_books_source

        register_books_source(ctx.spark)
        self.sinks = ctx.work / "sinks"
        self.attempts = 0
        self.observations: list = []

    def _source(self, spark):
        self.attempts += 1
        return (
            spark.read.format("books")
            .option("n", N_BOOKS)
            .option("page_size", -(-N_BOOKS // BOOKS_PAGES))
            .load()
        )

    def _observe(self, df, tag: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"stage_rows_{tag}")
        self.observations.append((tag, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def _pipeline(self, ctx, *, to_parquet: bool, observe: bool = False):
        from orchestrated_etl_spark.operators.enrich import enrich_metrics
        from orchestrated_etl_spark.operators.standardise import standardise_books
        from orchestrated_etl_spark.plans.pipeline import Pipeline, Stage
        from orchestrated_etl_spark.sources.sinks import write_parquet

        tr = ctx.tracer

        def stage(df):
            if not observe:
                return standardise_books(df)
            return self._observe(standardise_books(self._observe(df, "in")), "out")

        def sink(name, transform):
            def write(df):
                with tr.span("sinks.write", sink=name):
                    if to_parquet:
                        write_parquet(
                            transform(df), str(self.sinks / name), mode="overwrite"
                        )
                    else:
                        noop(transform(df))

            return write

        return Pipeline(
            name="books",
            source=self._source,
            stages=[Stage("standardise", stage)],
            sinks={
                "books": sink("books", lambda df: df),
                "enriched": sink("enriched", enrich_metrics),
            },
            retries=1,
            retry_delay_s=0.0,
        )

    def _run(self, ctx, *, to_parquet: bool, observe: bool = False) -> float:
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("pipeline.run"):
                self._pipeline(ctx, to_parquet=to_parquet, observe=observe).run(
                    ctx.spark
                )
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"pipeline run: {exc}")
        ctx.attempted += 1
        return time.perf_counter() - t0

    def warmup(self, ctx) -> None:
        self._run(ctx, to_parquet=True)

    def check(self, ctx) -> None:
        import duckdb

        from orchestrated_etl_spark.sources.books_source import books_oracle_cte

        con = duckdb.connect()
        books = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.sinks}/books/*.parquet')"
        ).fetchone()[0]
        ctx.attempted += 1
        if books != N_BOOKS:
            ctx.fail(f"check books sink: {books} rows, expected {N_BOOKS}")
        res = con.execute(f"SELECT * FROM read_parquet('{self.sinks}/enriched/*.parquet')")
        got = ([d[0] for d in res.description], res.fetchall())
        res = con.execute(ENRICH_ORACLE.format(cte=books_oracle_cte(N_BOOKS)))
        want = ([d[0] for d in res.description], res.fetchall())
        con.close()
        ctx.attempted += 1
        if diff := result_diff(got, want):
            ctx.fail(f"check enriched sink: {diff}")

    def measure(self, ctx) -> None:
        runs, noops = [], []

        def step():
            runs.append(self._run(ctx, to_parquet=True))
            noops.append(self._run(ctx, to_parquet=False))

        repeat(ctx.seconds, step)
        self.check(ctx)
        ctx.stop_spark()
        ctx.e2e["run_s"] = median(runs)
        ctx.e2e["noop_run_s"] = median(noops)
        ctx.notes["samples_s"] = {"run": runs, "noop": noops}
        ctx.extra["rows_per_s"] = (N_BOOKS / median(runs), "rows/s")

    def _noop_s(self, ctx, name: str, build) -> float:
        with ctx.tracer.span(name) as s:
            noop(build(ctx.spark))
        return _span_s(s)

    def trace(self, ctx) -> None:
        from eventlog import sum_groups

        from orchestrated_etl_spark.operators.enrich import enrich_metrics
        from orchestrated_etl_spark.operators.standardise import standardise_books

        before = self._run(ctx, to_parquet=True)
        tr = ctx.tracer
        tr.enabled = True
        self.attempts = 0
        with tr.span("traced_pass") as root:
            self._run(ctx, to_parquet=True, observe=True)
            attempts = self.attempts
            rows = {tag: obs.get["rows"] for tag, obs in self.observations}
            read_s = self._noop_s(ctx, "books_source.read", self._source)
            std_s = self._noop_s(
                ctx, "standardise.prefix", lambda s: standardise_books(self._source(s))
            )
            enr_s = self._noop_s(
                ctx,
                "enrich.prefix",
                lambda s: enrich_metrics(standardise_books(self._source(s))),
            )
        tr.enabled = False
        after = self._run(ctx, to_parquet=True)
        self.check(ctx)
        files = list(self.sinks.rglob("*.parquet"))
        nbytes = sum(p.stat().st_size for p in files)
        ctx.stop_spark()
        L, by = ctx.layer, ctx.by_group
        (run,) = tr.named("pipeline.run")
        L["trace.overhead_ratio"] = _span_s(run) / median([before, after])
        partitions = sum_groups(by, tr.groups(tr.named("books_source.read"))).source_tasks
        L["books_source.read_s"] = read_s
        L["books_source.partitions"] = partitions
        L["standardise.s"] = std_s - read_s
        L["enrich.s"] = enr_s - std_s
        L["pipeline.attempts"] = attempts
        L["pipeline.stage_rows_in"] = rows.get("in", 0)
        L["pipeline.stage_rows_out"] = rows.get("out", 0)
        scans = sum_groups(by, tr.groups([run])).source_tasks
        L["pipeline.source_scans"] = scans / max(1, partitions)
        L["pipeline.sink_s.books"] = tr.duration(tr.named("sinks.write", sink="books"))
        L["pipeline.sink_s.enriched"] = tr.duration(
            tr.named("sinks.write", sink="enriched")
        )
        L["sinks.write_s"] = tr.duration(tr.named("sinks.write"))
        L["sinks.files"] = len(files)
        L["sinks.bytes_per_row"] = nbytes / (rows.get("out", 0) + ENRICHED_ROWS)
        _exec_layer(ctx, root)


class StreamEvents:
    """Seeded events replayed as time-ordered files through
    ``Pipeline.run_streaming`` (availableNow, one file per trigger) and
    ``session_windows`` into a parquet sink. An iteration is one drain
    into parquet and one into a noop sink, each from a fresh checkpoint."""

    def setup(self, ctx) -> None:
        from datagen import write_event_files

        self.events = str(ctx.work / "events")
        write_event_files(
            self.events, N_EVENTS, EVENT_FILES, ctx.seed, jitter_us=EVENT_JITTER_US
        )
        self.drains = 0

    @staticmethod
    def _schema():
        from pyspark.sql import types as T

        # ts is declared LTZ (withWatermark rejects NTZ); the session is
        # pinned to UTC, so the stored wall clock reads back unchanged.
        return T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )

    def _source(self, spark):
        return (
            spark.readStream.schema(self._schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(self.events)
        )

    def _drain(self, ctx, *, to_parquet: bool):
        """One availableNow drain: (wall seconds, progress list, sink)."""
        from orchestrated_etl_spark.plans.pipeline import Pipeline, Stage
        from orchestrated_etl_spark.streaming.windows import session_windows

        self.drains += 1
        d = ctx.work / "drains" / str(self.drains)
        sink, ckpt = str(d / "sink"), str(d / "checkpoint")
        pipe = Pipeline(
            name="events", source=self._source, stages=[Stage("sessions", session_windows)]
        )
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.run_streaming") as span:
            if to_parquet:
                q = pipe.run_streaming(ctx.spark, self._source, sink, ckpt)
            else:
                # run_streaming's plan, ending in a noop sink instead.
                q = (
                    pipe.build(ctx.spark)
                    .writeStream.format("noop")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            if span is not None:
                span["run_ids"] = [str(q.runId)]
            q.awaitTermination()
        wall = time.perf_counter() - t0
        ctx.attempted += 1
        if q.exception() is not None:
            ctx.fail(f"stream drain: {q.exception()}")
        return wall, q.recentProgress, sink

    def warmup(self, ctx) -> None:
        self._drain(ctx, to_parquet=True)
        self._drain(ctx, to_parquet=False)

    def check(self, ctx, sink: str, progress) -> None:
        """The sink holds exactly the batch session windows that the final
        watermark closed, and no row was dropped as late."""
        from orchestrated_etl_spark.streaming.windows import session_windows

        spark = ctx.spark
        wm = progress[-1]["eventTime"]["watermark"]
        batch = session_windows(spark.read.schema(self._schema()).parquet(self.events))
        # Append mode emits a session once the watermark passes its end.
        # The filter runs here, not in Spark: Catalyst pushes a predicate
        # on session_end below the session merge, which splits sessions.
        cut = datetime.fromisoformat(wm.rstrip("Z"))
        end = batch.columns.index("session_end")
        want = (batch.columns, [tuple(r) for r in batch.collect() if r[end] < cut])
        got_df = spark.read.parquet(sink)
        got = (got_df.columns, [tuple(r) for r in got_df.collect()])
        ctx.attempted += 1
        if diff := result_diff(got, want):
            ctx.fail(f"check stream sink (watermark {wm}): {diff}")
        late = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        ctx.attempted += 1
        if late:
            ctx.fail(f"check stream: {late} rows dropped as late")

    def measure(self, ctx) -> None:
        runs, noops, batches, last = [], [], [], {}

        def step():
            wall, progress, sink = self._drain(ctx, to_parquet=True)
            runs.append(wall)
            batches.extend(p["durationMs"]["triggerExecution"] for p in progress)
            last.update(sink=sink, progress=progress)
            noops.append(self._drain(ctx, to_parquet=False)[0])

        repeat(ctx.seconds, step)
        self.check(ctx, last["sink"], last["progress"])
        ctx.stop_spark()
        ctx.e2e["run_s"] = median(runs)
        ctx.e2e["noop_run_s"] = median(noops)
        ctx.notes["samples_s"] = {"run": runs, "noop": noops}
        ctx.extra["rows_per_s"] = (N_EVENTS / median(runs), "rows/s")
        ctx.extra["batch_ms_p50"] = (median(batches), "ms")
        tail = tail_percentile(batches)
        if tail:
            pct, value, beyond = tail
            ctx.extra["batch_ms_tail"] = (value, "ms")
            ctx.notes["batch_ms_tail"] = f"p{pct}, {beyond} of {len(batches)} batches beyond"

    def trace(self, ctx) -> None:
        before = self._drain(ctx, to_parquet=True)[0]
        tr = ctx.tracer
        tr.enabled = True
        with tr.span("traced_pass") as root:
            wall, progress, sink = self._drain(ctx, to_parquet=True)
        tr.enabled = False
        after = self._drain(ctx, to_parquet=True)[0]
        self.check(ctx, sink, progress)
        ctx.stop_spark()
        L = ctx.layer
        L["trace.overhead_ratio"] = wall / median([before, after])
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        dur = [p["durationMs"] for p in progress]
        L["streaming.batches"] = len(progress)
        L["streaming.input_rows"] = sum(p["numInputRows"] for p in progress)
        L["streaming.add_batch_ms"] = sum(d.get("addBatch", 0) for d in dur)
        L["streaming.planning_ms"] = sum(d.get("queryPlanning", 0) for d in dur)
        L["streaming.commit_ms"] = sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        )
        L["streaming.state_rows"] = max((op["numRowsTotal"] for op in ops), default=0)
        L["streaming.state_bytes"] = max((op["memoryUsedBytes"] for op in ops), default=0)
        L["streaming.state_commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
        L["streaming.late_dropped_rows"] = sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops
        )
        _exec_layer(ctx, root)


WORKLOADS = {
    "etl_books": EtlBooks,
    "headline_mix": HeadlineMix,
    "stream_events": StreamEvents,
}
