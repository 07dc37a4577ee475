"""The three workloads.

Each workload is a closed loop: one client runs its units one after
another. A unit is one pass over the 46 headline queries
(``batch_headline``) or one replay of a fixed backlog of files
(``stream_wordcount``, ``stream_window``). Every workload:

- ``prepare``: writes its inputs from the seed and computes the expected
  outputs (DuckDB oracle SQL or generator ground truth) before Spark
  starts, in a child process whose memory is not the program's;
- ``session``: builds the session through ``ssp_spark.session.get_spark``;
- ``unit``: runs one unit and returns its wall time, its per-item
  latencies (one per query, or one per micro-batch with input) and, when
  a tracer is attached, its per-layer measurements;
- ``check``: compares the outputs the cold unit kept with the expected
  ones, outside the timed units; each mismatch fails that unit.

``layers`` names the per-layer metric prefixes a workload exercises: a
traced run must measure each of them, and reports 0 for the others.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime

import datagen
import sparkjobs
from bench_reference_workload import N_FILES, TARGET_BYTES
from host import ProcTree
from spans import Tracer, self_times

# batch_headline: table scale factor (lineitem 60k rows) and per-query limit
BATCH_SF = 0.01
QUERY_DEADLINE_S = 60.0
# stream workloads: backlog shape and per-replay limit. The word stream
# is the reference's (N_FILES files, TARGET_BYTES in all)
EVENT_FILES, EVENTS, EVENT_KEYS = 12, 2_000_000, 10_000
WINDOW_S, SLIDE_S, DELAY_S, STEP_S = 60, 20, 30, 60
REPLAY_DEADLINE_S = 60.0


@dataclass
class Unit:
    wall_s: float
    lat_ms: list[float]
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    cores: int
    tracer: Tracer | None = None
    units: int = 0

    def next_tag(self) -> str:
        self.units += 1
        return f"u{self.units}"


class _Deadline:
    """Cancel a job group if its work is still running after ``limit_s``."""

    def __init__(self, spark, limit_s: float) -> None:
        self.sc = spark.sparkContext
        self.group: str | None = None
        self._timer = threading.Timer(limit_s, self._fire)
        self._timer.daemon = True

    def enter(self, group: str, desc: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, desc, interruptOnCancel=True)

    def _fire(self) -> None:
        if self.group:
            self.sc.cancelJobGroup(self.group)

    def __enter__(self) -> "_Deadline":
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def _pyworker(t0: ProcTree, t1: ProcTree) -> dict[str, float]:
    cpu = t1.cpu_s - t0.cpu_s
    worker = t1.worker_cpu_s - t0.worker_cpu_s
    return {"pyworker.cpu_s": worker, "pyworker.share": worker / cpu if cpu > 0 else 0.0}


def _layer_times(tracer: Tracer, first_span: int) -> dict[str, dict[str, float]]:
    """Per-layer call count, self time and directly attached job count
    over the spans recorded since ``first_span``."""
    spans = tracer.spans[first_span:]
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.layer == "spark":
            parent = by_id.get(s.parent)
            if parent is not None:
                out.setdefault(parent.layer, {"calls": 0, "self_s": 0.0, "jobs": 0})["jobs"] += 1
            continue
        d = out.setdefault(s.layer, {"calls": 0, "self_s": 0.0, "jobs": 0})
        d["calls"] += 1
        d["self_s"] += selfs[s.id]
    return out


class BatchHeadline:
    """The 46 ``bench.HEADLINE`` registry queries over seeded tables. A
    pass runs, per query, a build (``QUERIES[name](spark, dir)``) and an
    action (a noop write; the cold pass collects the rows instead, which
    the output check hashes afterwards)."""

    name = "batch_headline"
    min_units = 2  # a pass takes ~10 s
    layers = ("queries.", "operators.", "catalog.", "spark.", "pyworker.", "memo.")

    def __init__(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "tables")
        self.seed = seed
        self.cold_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.cold_errors: dict[str, str] = {}

    def prepare(self, cores: int) -> None:
        import duckdb
        from bench import HEADLINE
        from oracle_harness import value_hash
        from ssp_spark.queries import ORACLE

        rows = datagen.write_tables(self.dir, self.seed, BATCH_SF)
        self.records = sum(rows.values())
        self.queries = list(HEADLINE)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {cores}")
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.expected = {}
            for q in self.queries:
                rel = con.sql(ORACLE[q])
                self.expected[q] = value_hash(list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def session(self):
        # bench.py's protocol: input-sized shuffle partitions, input-gated AQE
        from ssp_spark.session import (
            adaptive_enabled_for,
            get_spark,
            sized_shuffle_partitions,
        )

        return get_spark(
            "perfbench",
            shuffle_partitions=sized_shuffle_partitions(self.dir),
            adaptive=adaptive_enabled_for(self.dir),
        )

    def unit(self, ctx: Ctx, cold: bool = False) -> Unit:
        from ssp_spark.queries import QUERIES, release_session_artifacts

        spark, tracer = ctx.spark, ctx.tracer
        release_session_artifacts(spark)
        gc.collect()
        tag = ctx.next_tag()
        u = Unit(0.0, [])
        first_span = len(tracer.spans) if tracer else 0
        build_s = 0.0
        build_jobs, all_jobs = 0, []
        pinned_max, pinned_mb, leaving = 0, 0.0, 0
        pinned_before = sparkjobs.pinned(spark)[0] if tracer else 0
        p0 = ProcTree() if tracer else None
        pspan = tracer.open("workload", "pass") if tracer else None
        for q in self.queries:
            u.attempted += 1
            gb, ga = f"{tag}:b:{q}", f"{tag}:a:{q}"
            qspan = tracer.open("queries", q) if tracer else None
            bspan = aspan = df = rows = None
            t0 = time.perf_counter()
            t1 = None
            try:
                with _Deadline(spark, QUERY_DEADLINE_S) as dl:
                    dl.enter(gb, q)
                    bspan = tracer.open("queries", "build") if tracer else None
                    try:
                        df = QUERIES[q](spark, self.dir)
                    finally:
                        if tracer:
                            tracer.close(bspan)
                    t1 = time.perf_counter()
                    dl.enter(ga, q)
                    aspan = tracer.open("queries", "action") if tracer else None
                    try:
                        if cold:
                            rows = df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    finally:
                        if tracer:
                            tracer.close(aspan)
                t2 = time.perf_counter()
                if cold:
                    self.cold_rows[q] = (list(df.columns), [tuple(r) for r in rows])
            except Exception as e:  # one failed query must not end the pass
                t2 = time.perf_counter()
                u.failed += 1
                u.errors.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
                if cold:
                    self.cold_errors[q] = str(e)[:200]
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if tracer:
                    tracer.close(qspan)
            t1 = t1 or t2
            u.lat_ms.append((t2 - t0) * 1000.0)
            u.wall_s += t2 - t0
            build_s += t1 - t0
            if tracer:
                jb = sparkjobs.jobs_for_group(spark, gb)
                ja = sparkjobs.jobs_for_group(spark, ga)
                build_jobs += len(jb)
                all_jobs += jb + ja
                for j in jb:
                    parent = tracer.deepest_open_at(bspan, j.start) if bspan else qspan
                    tracer.add(parent, "spark", f"job {j.id}", j.start, j.end)
                for j in ja:
                    tracer.add(aspan or qspan, "spark", f"job {j.id}", j.start, j.end)
                df = rows = None
                gc.collect()
                n, mb = sparkjobs.pinned(spark)
                leaving += n > pinned_before
                pinned_before = n
                pinned_max, pinned_mb = max(pinned_max, n), max(pinned_mb, mb)
        if tracer:
            tracer.close(pspan)
            u.layer.update(_pyworker(p0, ProcTree()))
            u.layer.update(sparkjobs.summarize(all_jobs, ctx.cores))
            u.layer.update({
                "queries.build_s": build_s,
                "queries.build_jobs": build_jobs,
                "queries.build_share": build_s / u.wall_s if u.wall_s else 0.0,
                "memo.pinned_rdds_max": pinned_max,
                "memo.queries_leaving_pinned": leaving,
                "memo.pinned_mb": pinned_mb,
            })
            _add_call_layers(u.layer, _layer_times(tracer, first_span), tracer, first_span)
        return u

    def check(self, ctx: Ctx) -> list[str]:
        """The cold pass's rows, hashed as the oracle harness does, vs
        the DuckDB oracle hash of each query. One error per mismatching
        query (each fails its cold unit)."""
        from oracle_harness import value_hash

        bad = []
        for q in self.queries:
            if q in self.cold_errors:
                continue  # already counted as a failed unit
            cols, rows = self.cold_rows[q]
            if value_hash(cols, rows) != self.expected[q]:
                bad.append(f"{q}: hash mismatch vs DuckDB oracle")
        self.cold_rows.clear()
        return bad


def _add_call_layers(layer: dict, times: dict, tracer: Tracer, first_span: int) -> None:
    """``operators.<module>.*`` and ``catalog.*`` from the wrapper spans,
    for the modules and the catalog calls that were seen."""
    for name, d in times.items():
        if name.startswith("operators."):
            layer[f"{name}.calls"] = d["calls"]
            layer[f"{name}.self_s"] = d["self_s"]
            layer[f"{name}.jobs"] = d["jobs"]
    loads = [s for s in tracer.spans[first_span:] if s.layer == "catalog" and s.name == "load_table"]
    if not loads:
        return
    # a call that raised has no result
    seen = {s.attrs.get("result_id") for s in tracer.spans[:first_span] if s.name == "load_table"}
    hits = 0
    for s in loads:
        rid = s.attrs.get("result_id")
        hits += rid in seen
        seen.add(rid)
    layer["catalog.load_calls"] = len(loads)
    layer["catalog.load_s"] = sum(s.end - s.start for s in loads)
    layer["catalog.cache_hit_ratio"] = hits / len(loads)


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Stream:
    """A bounded replay of a file backlog: ``availableNow`` trigger, one
    file per micro-batch. Steady replays write to a noop sink; the cold
    replay writes to the sink of ``capture``, whose rows ``check``
    compares afterwards."""

    name = ""
    mode = "append"
    layers = ("spark.", "pyworker.", "memo.", "streaming.")
    # a replay takes 3-5 s and the first after the cold one is still
    # warming up: the median of three leaves it out
    min_units = 3

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.dir = os.path.join(work, "input")
        self.seed = seed

    def session(self):
        # the library defaults (one shuffle partition per core); AQE does
        # not apply to streaming plans
        from ssp_spark.session import get_spark

        return get_spark("perfbench")

    def _order_files(self) -> None:
        # the file source takes files in modification-time order
        base = time.time() - 3600
        for i, f in enumerate(sorted(os.listdir(self.dir))):
            os.utime(os.path.join(self.dir, f), (base + i, base + i))

    def plan(self, spark):
        raise NotImplementedError

    def capture(self, ctx: Ctx, writer):
        """The writer of the cold replay, keeping what ``check`` needs."""
        raise NotImplementedError

    def _replay(self, ctx: Ctx, cold: bool, u: Unit):
        """Build, start and wait for one replay; a timeout stops it. A
        failure of any kind counts the unit as failed."""
        ck = os.path.join(self.work, "ck", uuid.uuid4().hex)
        q = None
        try:
            writer = self.plan(ctx.spark).writeStream.option("checkpointLocation", ck)
            writer = self.capture(ctx, writer) if cold else writer.format("noop")
            q = writer.outputMode(self.mode).trigger(availableNow=True).start()
            if not q.awaitTermination(REPLAY_DEADLINE_S):
                q.stop()
                raise TimeoutError(f"replay did not finish in {REPLAY_DEADLINE_S} s")
        except Exception as e:  # includes StreamingQueryException
            u.failed += 1
            u.errors.append(f"{self.name}: {type(e).__name__}: {str(e)[:200]}")
        return q, ck

    def unit(self, ctx: Ctx, cold: bool = False) -> Unit:
        tracer = ctx.tracer
        u = Unit(0.0, [], attempted=1)
        first_span = len(tracer.spans) if tracer else 0
        p0 = ProcTree() if tracer else None
        rspan = tracer.open("workload", "replay") if tracer else None
        t0 = time.perf_counter()
        q, ck = self._replay(ctx, cold, u)
        u.wall_s = time.perf_counter() - t0
        if cold:
            self.cold_failed = bool(u.failed)
        if tracer:
            tracer.close(rspan)
        progress = q.recentProgress if q is not None else []
        data = [p for p in progress if p["numInputRows"] > 0]
        u.lat_ms = [float(p["durationMs"]["triggerExecution"]) for p in data]
        if tracer and q is not None:
            self._trace(ctx, q, progress, rspan, p0, u, first_span)
        shutil.rmtree(ck, ignore_errors=True)
        return u

    def _trace(self, ctx: Ctx, q, progress, rspan, p0, u: Unit, first_span: int) -> None:
        tracer = ctx.tracer
        u.layer.update(_pyworker(p0, ProcTree()))
        jobs = sparkjobs.jobs_for_group(ctx.spark, str(q.runId))
        u.layer.update(sparkjobs.summarize(jobs, ctx.cores))
        batch_spans = []
        for p in progress:
            start = _iso_epoch(p["timestamp"])
            end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
            batch_spans.append(tracer.add(rspan, "streaming", f"batch {p['batchId']}", start, end))
        for j in jobs:
            parent = next((b for b in batch_spans if b.start <= j.start <= b.end), rspan)
            tracer.add(parent, "spark", f"job {j.id}", j.start, j.end)
        # read strictly: a missing progress key raises, and a replay with
        # no data batch or no state operator leaves those metrics out,
        # which fails the traced run
        data = [p for p in progress if p["numInputRows"] > 0]
        dur = [p["durationMs"] for p in data]

        def med(key) -> float:
            return statistics.median(key(d) for d in dur)

        if data:
            u.layer.update({
                "streaming.batches": len(data),
                "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in data),
                "streaming.add_batch_ms": med(lambda d: d["addBatch"]),
                "streaming.overhead_ms": med(lambda d: d["triggerExecution"] - d["addBatch"]),
                "streaming.planning_ms": med(lambda d: d["queryPlanning"]),
                "streaming.commit_ms": med(lambda d: d["walCommit"] + d["commitOffsets"]),
                "streaming.latest_offset_ms": med(lambda d: d["latestOffset"]),
            })
        states = [p["stateOperators"] for p in progress]
        if states and all(states):
            u.layer.update({
                "streaming.state_rows": states[-1][0]["numRowsTotal"],
                "streaming.state_mb": states[-1][0]["memoryUsedBytes"] / sparkjobs.MB,
                "streaming.state_rows_removed": sum(s[0]["numRowsRemoved"] for s in states),
                "streaming.rows_dropped_by_watermark": sum(
                    s[0]["numRowsDroppedByWatermark"] for s in states
                ),
            })
        n, mb = sparkjobs.pinned(ctx.spark)
        u.layer.update({
            "memo.pinned_rdds_max": n,
            "memo.queries_leaving_pinned": int(n > 0),
            "memo.pinned_mb": mb,
        })
        _add_call_layers(u.layer, _layer_times(tracer, first_span), tracer, first_span)


class StreamWordcount(_Stream):
    """The reference engine's benchmark: a keyed running count over a
    word stream through ``running_count_stream`` (one output row per
    input word, via ``applyInPandasWithState``)."""

    name = "stream_wordcount"

    def prepare(self, cores: int) -> None:
        self.truth = datagen.write_word_files(self.dir, self.seed, N_FILES, TARGET_BYTES // N_FILES)
        self.records = sum(self.truth.values())
        self._order_files()

    def plan(self, spark):
        import pyspark.sql.functions as F
        from ssp_spark.streaming import running_count_stream

        words = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(self.dir)
            .select(F.explode(F.split("value", " ")).alias("word"))
        )
        return running_count_stream(words, "word")

    def capture(self, ctx: Ctx, writer):
        """Per micro-batch, each word's emitted rows and largest count."""
        import pyspark.sql.functions as F

        self.seen: dict[str, list[int]] = {}

        def collect(batch_df, _batch_id):
            agg = batch_df.groupBy("word").agg(F.count("*").alias("n"), F.max("cnt").alias("top"))
            for r in agg.collect():
                s = self.seen.setdefault(r["word"], [0, 0])
                s[0] += r["n"]
                s[1] = max(s[1], r["top"])

        return writer.foreachBatch(collect)

    def check(self, ctx: Ctx) -> list[str]:
        """Every word is emitted once per occurrence, and its last running
        count is its true count."""
        if self.cold_failed:
            return []  # already counted as a failed unit
        got = {w: tuple(v) for w, v in self.seen.items()}
        want = {w: (c, c) for w, c in self.truth.items()}
        if got == want:
            return []
        wrong = sorted(set(got.items()) ^ set(want.items()))[:3]
        return [f"running counts differ from ground truth, e.g. {wrong}"]


class StreamWindow(_Stream):
    """Event-time sliding-window count with a fixed-delay watermark
    through ``windowed_count_stream`` in append mode: a window is emitted
    once the watermark passes its end; events behind the watermark are
    dropped from the windows already closed."""

    name = "stream_window"

    def prepare(self, cores: int) -> None:
        events = datagen.write_event_files(
            self.dir, self.seed, EVENT_FILES, EVENTS, EVENT_KEYS, STEP_S, DELAY_S
        )
        self.records = events.num_rows
        self._order_files()
        self.expected = expected_windows(events, EVENT_FILES, WINDOW_S, SLIDE_S, DELAY_S, cores)

    def plan(self, spark):
        from ssp_spark.streaming import windowed_count_stream

        events = (
            spark.readStream.schema("ts TIMESTAMP, key STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.dir)
        )
        return windowed_count_stream(
            events, "ts", "key", f"{WINDOW_S} seconds", f"{SLIDE_S} seconds", f"{DELAY_S} seconds"
        )

    def capture(self, ctx: Ctx, writer):
        self.table = f"perfbench_{uuid.uuid4().hex}"
        return writer.format("memory").queryName(self.table)

    def check(self, ctx: Ctx) -> list[str]:
        """The emitted windows, row for row, vs the DuckDB replay of the
        watermark rule."""
        if self.cold_failed:
            return []  # already counted as a failed unit
        got = sorted(tuple(r) for r in ctx.spark.table(self.table).collect())
        ctx.spark.catalog.dropTempView(self.table)
        if got == self.expected:
            return []
        diff = sorted(set(got) ^ set(self.expected))
        return [
            f"{len(got)} windows emitted, {len(self.expected)} expected; "
            f"{len(diff)} differ, e.g. {diff[:3]}"
        ]


def expected_windows(events, n_batches: int, size_s: int, slide_s: int, delay_s: int,
                     cores: int = 1) -> list[tuple]:
    """DuckDB replay of append-mode sliding windows under a per-batch
    watermark. ``wm(b)`` is the largest event time (ms) of the batches
    before ``b`` minus the delay (0 before any data). Batch ``b`` evicts
    and emits the windows ending at or before ``wm(b)``, and drops an
    event from those of its windows that end at or before the previous
    batch's watermark ``wm(b-1)`` (Spark's late-event rule for a single
    stateful operator). After the last data batch one more batch runs
    under ``wm(n_batches)``, so the emitted windows are those ending at
    or before it."""
    import duckdb

    size_us, slide_us = size_s * 1_000_000, slide_s * 1_000_000
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cores}")
        con.register("events", events)
        rows = con.sql(f"""
            WITH ev AS (SELECT epoch_us(ts) AS t, key, batch FROM events),
            bmax AS (SELECT batch, max(t) // 1000 AS mx FROM ev GROUP BY batch),
            wm AS (
                SELECT r.b AS batch,
                       coalesce((SELECT max(mx) FROM bmax WHERE bmax.batch < r.b)
                                - {delay_s * 1000}, 0) AS wm
                FROM range(-1, {n_batches + 1}) r(b)
            ),
            win AS (
                SELECT (t // {slide_us}) * {slide_us} - k.k * {slide_us} AS ws, key, batch
                FROM ev, range(0, {size_s // slide_s}) k(k)
            )
            SELECT ws // 1000000 AS ws, (ws + {size_us}) // 1000000 AS we, key, count(*) AS cnt
            FROM win JOIN wm ON wm.batch = win.batch - 1
            WHERE (ws + {size_us}) // 1000 > wm.wm
            GROUP BY ALL
            HAVING (ws + {size_us}) // 1000
                   <= (SELECT wm FROM wm WHERE batch = {n_batches})
        """).fetchall()
    finally:
        con.close()
    return sorted((int(a), int(b), k, int(c)) for a, b, k, c in rows)


WORKLOADS = {w.name: w for w in (BatchHeadline, StreamWordcount, StreamWindow)}
