"""The four benchmark workloads.

Each workload prepares seeded inputs, then runs ops against the
library's public API.  ``op(i)`` returns {"latency_s", "busy_s",
"wall_s", "work"}: ``op_s`` is the median ``latency_s``, ``work_per_s``
the median ``work / busy_s``, and ``wall_s`` the time the op spent in
the calls its spans cover (the traced run's reference).
``check(i, res, traced)`` raises ``CheckFailed`` when an output is
wrong, and for a traced op adds the counts the per-layer report reads.
Checks run outside the timed region.
"""

from __future__ import annotations

import shutil
import socketserver
import threading
import time
from collections import Counter
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen

TIERS = ["1m", "5m", "1h", "1d"]


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def gen_inputs(self) -> None:
        """Generate the seeded inputs (repeatable; timed as set-up)."""

    def prepare(self) -> None:
        """One-time set-up after input generation (timed as set-up)."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Work before the measured ops, counted in set-up.  The batch
        workloads have none: each backfill, close or curation is a
        job submitted in a fresh process, so its first run is the one a
        user waits for."""

    def check(self, i: int, res: dict, traced: bool) -> None:
        pass

    def finish(self, results: dict[int, dict]) -> set[int]:
        """Checks over the whole run; returns op ids found wrong."""
        return set()

    def close(self) -> None:
        pass


# ============================================================== dashboard
def dashboard(job, tracer, day: int) -> dict:
    """The dashboard query mix on one day of the store: a narrow 1m read
    from the Gorilla chunks, and a moving average of the gap-filled 1h
    `web` series."""
    from logtrics_spark.operators.gapfill import gapfill
    from logtrics_spark.operators.series import moving_average

    lo = pd.Timestamp(gen.day_str(day)) + pd.Timedelta(hours=12)
    hi = lo + pd.Timedelta(minutes=59)
    since = pd.Timestamp(gen.day_str(max(0, day - 2)))
    with tracer.span("gorilla.query_chunks_1m"):
        q1 = job.read_tier_from_chunks("1m", ts_from=lo, ts_to=hi).collect()
    with tracer.span("series.query_moving_average_gapfilled_1h"):
        h = job.read_tier("1h").where((F.col("window_start") >= F.lit(since)) & (F.col("source") == "web"))
        cols = ["source", "metric", "kind", "window_start", "cnt", "sum", "min", "max", "avg", "last"]
        filled = gapfill(h.select(*cols), "1h", method="linear")
        n2 = len(moving_average(filled, "sum", 3 * 3600).collect())
    return {"q1": q1, "n2": n2, "lo": lo, "hi": hi, "since": since, "day": day}


def check_dashboard(job, q: dict) -> None:
    rows = (
        job.read_tier("1m")
        .where((F.col("window_start") >= F.lit(q["lo"])) & (F.col("window_start") <= F.lit(q["hi"])))
        .select("source", "metric", "window_start", "cnt", "sum")
        .collect()
    )
    want = {(r["source"], r["metric"], r["window_start"]): (float(r["cnt"]), float(r["sum"])) for r in rows}
    got = {(r["source"], r["metric"], r["window_start"]): (r["cnt"], r["sum"]) for r in q["q1"]}
    expect(got == want and len(want) > 0, "1m chunk query differs from tier rows")
    n_series = job.read_tier("1h").where(F.col("source") == "web").select("metric", "kind").distinct().count()
    hours = int((pd.Timestamp(gen.day_str(q["day"] + 1)) - q["since"]) / pd.Timedelta(hours=1))
    expect(q["n2"] == n_series * hours, f"gap-filled moving average returned {q['n2']} rows, want {n_series * hours}")


def tier_rows(job, day: str | None = None) -> dict[str, int]:
    t = job.io.read("tiers")
    if day is not None:
        t = t.where(F.col("day") == day)
    return {r["tier"]: r["count"] for r in t.groupBy("tier").count().collect()}


def chunk_bytes_per_point(job) -> float:
    r = (
        job.io.read("chunks")
        .agg(F.sum(F.length("chunk")).alias("b"), F.sum("n_points").alias("p"))
        .collect()[0]
    )
    return float(r["b"]) / float(r["p"])


def check_chunks_day(job, tier: str, day: str) -> None:
    """A day decoded from the Gorilla chunks equals that day's tier rows."""
    lo = pd.Timestamp(day)
    hi = lo + pd.Timedelta(days=1) - pd.Timedelta(seconds=1)
    cols = ["cnt", "sum", "min", "max", "avg", "last"]
    key = ["source", "metric", "kind", "window_start"]
    dec = job.read_tier_from_chunks(tier, ts_from=lo, ts_to=hi).select(*key, *cols).toPandas()
    rows = (
        job.read_tier(tier)
        .where((F.col("window_start") >= F.lit(lo)) & (F.col("window_start") <= F.lit(hi)))
        .select(*key, *[F.col(c).cast("double").alias(c) for c in cols])
        .toPandas()
    )
    expect(len(dec) == len(rows) and len(rows) > 0, f"{tier} {day}: {len(dec)} decoded vs {len(rows)} rows")
    a = dec.sort_values(key).reset_index(drop=True)
    b = rows.sort_values(key).reset_index(drop=True)
    expect(a.equals(b), f"{tier} {day}: decoded chunks differ from tier rows")


# ================================================================ backfill
class Backfill(Workload):
    """Multi-day token table into an empty store (the fresh-store fast
    path), then the dashboard query mix, then one tick of the live
    daemon (``Live.drain``); once per op."""

    name = "backfill"
    STEP_S = 8
    DAYS = 2

    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        super().__init__(spark, work, seed, tracer)
        self.live = Live(spark, work, seed, tracer)

    def gen_inputs(self) -> None:
        self.landing = self.work / "landing"
        self.landing.mkdir(parents=True, exist_ok=True)
        self.rows = gen.token_days(self.seed, self.STEP_S, 0, self.DAYS, self.landing / "days.parquet")
        self.live.gen_inputs()

    def prepare(self) -> None:
        self.oracle = gen.day_oracle(self.seed, self.STEP_S, 0, self.DAYS)
        self.df = self.spark.read.parquet(str(self.landing / "days.parquet"))
        self.sample_day = gen.day_str(self.seed % self.DAYS)
        self.live.prepare()

    def op(self, i: int) -> dict:
        from logtrics_spark.plans.pipeline import RollupJob

        root = self.work / f"backfill-{i}"
        shutil.rmtree(root, ignore_errors=True)
        lines = self.live.next_lines()
        t0 = time.perf_counter()
        job = RollupJob(self.spark, str(root), step_seconds=self.STEP_S)
        with self.tracer.span("bench.ingest"):
            job.ingest_raw(self.df)
        with self.tracer.span("bench.run"):
            stats = job.run(run_id=f"backfill-{i}")
        with self.tracer.span("bench.retention"):
            dropped = job.retention()
        t1 = time.perf_counter()
        q = dashboard(job, self.tracer, self.DAYS - 1)
        t2 = time.perf_counter()
        tick = self.live.drain(lines)
        t3 = time.perf_counter()
        # points/s over the write path; op_s covers the queries and the
        # daemon tick too
        return {
            **tick,
            "latency_s": t3 - t0,
            "busy_s": t1 - t0,
            "wall_s": t3 - t0,
            "work": 4 * self.rows,
            "close_s": t1 - t0,
            "query_s": t2 - t1,
            "job": job,
            "stats": stats,
            "dropped": dropped,
            "q": q,
        }

    def check(self, i: int, res: dict, traced: bool) -> None:
        job = res.pop("job")
        n_units = len(self.oracle)
        expect(
            res["stats"] == {t: n_units for t in TIERS},
            f"sealed units per tier {res['stats']} != {n_units}",
        )
        sealed = job.io.sealed_units().count()
        expect(sealed == 4 * n_units, f"{sealed} sealed units, want {4 * n_units}")
        expect(len(res["dropped"]) == n_units, "retention did not drop every raw unit")
        d1 = (
            job.read_tier("1d")
            .select("source", "metric", "kind", F.date_format("window_start", "yyyy-MM-dd").alias("day"), "cnt", "sum")
            .toPandas()
        )
        m = d1.merge(self.oracle, on=["source", "day"], how="outer", indicator=True)
        expect((m["_merge"] == "both").all() and len(d1) == 4 * n_units, "1d tier keys differ from oracle")
        meter = m["kind"] == "meter"
        expect((m["cnt"] == m["docs"]).all(), "1d cnt differs from oracle")
        expect((m.loc[meter, "sum"] == m.loc[meter, "docs"]).all(), "1d meter sum differs")
        expect((m.loc[~meter, "sum"] == m.loc[~meter, "n_tok"]).all(), "1d sum differs from oracle")
        check_chunks_day(job, "1m", self.sample_day)
        check_dashboard(job, res.pop("q"))
        if traced:
            res["chunk_bytes_per_point"] = chunk_bytes_per_point(job)
            res["tier_rows"] = tier_rows(job)
        shutil.rmtree(self.work / f"backfill-{i}", ignore_errors=True)

    def finish(self, results: dict[int, dict]) -> set[int]:
        return self.live.finish(results)

    def close(self) -> None:
        self.live.close()


# =================================================================== daily
class Daily(Workload):
    """A week of sealed days; each op appends and closes the next day,
    then runs the dashboard query mix against the grown store."""

    name = "daily"
    STEP_S = 10
    FILL_DAYS = 7
    # days generated ahead for the ops: more than any run closes
    AHEAD_DAYS = 12

    def gen_inputs(self) -> None:
        self.landing = self.work / "landing"
        self.landing.mkdir(parents=True, exist_ok=True)
        gen.token_days(self.seed, self.STEP_S, 0, self.FILL_DAYS, self.landing / "fill.parquet")
        self.day_rows = {}
        for d in range(self.FILL_DAYS, self.FILL_DAYS + self.AHEAD_DAYS):
            self.day_rows[d] = gen.token_days(self.seed, self.STEP_S, d, 1, self.landing / f"day{d}.parquet")

    def prepare(self) -> None:
        from logtrics_spark.plans.pipeline import RollupJob

        self.root = self.work / "daily"
        shutil.rmtree(self.root, ignore_errors=True)
        self.job = RollupJob(self.spark, str(self.root), step_seconds=self.STEP_S)
        self.job.ingest_raw(self.spark.read.parquet(str(self.landing / "fill.parquet")))
        self.job.run(seal_before=gen.day_str(self.FILL_DAYS))
        self.job.retention()
        self.next_day = self.FILL_DAYS

    def op(self, i: int) -> dict:
        day = self.next_day
        self.next_day += 1
        df = self.spark.read.parquet(str(self.landing / f"day{day}.parquet"))
        job = self.job
        t0 = time.perf_counter()
        with self.tracer.span("bench.ingest"):
            job.ingest_raw(df, mode="append")
        with self.tracer.span("bench.run"):
            stats = job.run(run_id=f"close-{day}", seal_before=gen.day_str(day + 1))
        with self.tracer.span("bench.retention"):
            dropped = job.retention()
        t1 = time.perf_counter()
        q = dashboard(job, self.tracer, day)
        t2 = time.perf_counter()
        return {
            "latency_s": t2 - t0,
            "busy_s": t2 - t0,
            "wall_s": t2 - t0,
            "work": 4 * self.day_rows[day],
            "close_s": t1 - t0,
            "query_s": t2 - t1,
            "day": day,
            "stats": stats,
            "dropped": dropped,
            "q": q,
        }

    def check(self, i: int, res: dict, traced: bool) -> None:
        job, day = self.job, gen.day_str(res["day"])
        n_src = len(gen.day_oracle(self.seed, self.STEP_S, res["day"], 1))
        expect(res["stats"] == {t: n_src for t in TIERS}, f"close {day}: sealed {res['stats']}")
        lin = (
            job.io.read_lineage()
            .where(F.col("run_id") == f"close-{res['day']}")
            .select("tier", F.date_format("window_start", "yyyy-MM-dd").alias("day"))
            .toPandas()
        )
        expect(set(lin["day"]) == {day} and len(lin) == 4 * n_src, f"close {day}: lineage {len(lin)} rows")
        expect(sorted(d for _, d in res["dropped"]) == [day] * n_src, f"close {day}: retention dropped {res['dropped']}")
        expect(not list((self.root / "raw").glob(f"source=*/day={day}")), f"close {day}: raw partitions left")
        check_dashboard(job, res.pop("q"))
        if traced:
            res["tier_rows"] = tier_rows(job, day)

    def close(self) -> None:
        shutil.rmtree(self.work / "daily", ignore_errors=True)


# ==================================================================== live
def rule_requests(caps: pd.DataFrame, m) -> None:
    m.counter("http.requests").inc(1)
    m.timer("http.latency_ms").update(caps["ms"])
    m.meter("http.hits").mark(1)


def rule_errors(caps: pd.DataFrame, m) -> None:
    m.counter("http.errors").inc(1)


def rule_queue(caps: pd.DataFrame, m) -> None:
    m.gauge("worker.queue").update(caps["depth"])


class _Listener(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lines: list[str] = []
        self.nbytes = 0

        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                for raw in self.rfile:
                    with outer.lock:
                        outer.lines.append(raw.decode("utf-8").rstrip("\n"))
                        outer.nbytes += len(raw)

        super().__init__(("127.0.0.1", 0), Handler)


class Live(Workload):
    """Open loop: every INTERVAL_S a tick of generated lines is due and
    drained through Daemon.process_lines; Graphite goes to an in-process
    TCP listener, Prometheus to a textfile."""

    name = "live"
    # a tick drains in about 5 s on 4 cores; the schedule leaves headroom
    INTERVAL_S = 8.0
    LINES_PER_TICK = 6000
    # every tick compacts, so every measured tick does the same work
    COMPACT_EVERY = 1

    def gen_inputs(self) -> None:
        self.first = gen.tick_lines(self.seed, 0, self.LINES_PER_TICK)

    def prepare(self) -> None:
        from logtrics_spark.api import Engine
        from logtrics_spark.plans.daemon import Daemon

        self.listener = _Listener()
        self.listener_thread = threading.Thread(target=self.listener.serve_forever, daemon=True)
        self.listener_thread.start()
        engine = Engine()
        engine.rule("requests", r"^GET (?P<path>/\S+) (?P<status>\d{3}) (?P<ms>\d+)ms$", rule_requests)
        engine.rule("errors", r"^ERROR (?P<code>E\d+) ", rule_errors)
        engine.rule("queue", r"queue=(?P<depth>\d+)", rule_queue)
        self.prom = self.work / "prom" / "logtrics.prom"
        conf = {
            "graphite": {
                "tiers": ["1m"],
                "interval": self.INTERVAL_S,
                "host": "127.0.0.1",
                "port": self.listener.server_address[1],
                "prefix": "logtrics",
                "compact_every": self.COMPACT_EVERY,
            },
            "prometheus": {"textfile": str(self.prom)},
        }
        self.root = self.work / "live"
        shutil.rmtree(self.root, ignore_errors=True)
        self.daemon = Daemon(self.spark, conf, engine, str(self.root))
        self.ticks: dict[int, pd.DataFrame] = {}
        self.due0: float | None = None
        self.next_tick = 0
        self._seen = (0, 0)

    def next_lines(self) -> pd.DataFrame:
        """The next tick's generated lines (kept for the final check)."""
        tick = self.next_tick
        self.next_tick += 1
        pdf = self.first if tick == 0 else gen.tick_lines(self.seed, tick, self.LINES_PER_TICK)
        pdf.attrs["tick"] = tick
        self.ticks[tick] = pdf
        return pdf

    def drain(self, pdf: pd.DataFrame) -> dict:
        """Drain one tick through the daemon; returns its busy time and
        what the Graphite listener received meanwhile."""
        from logtrics_spark.sources.readers import normalize_lines

        start = time.perf_counter()
        with self.tracer.span("bench.tick"):
            lines = normalize_lines(self.spark.createDataFrame(pdf[["source", "line", "ts"]]))
            self.daemon.process_lines(lines)
        tick_s = time.perf_counter() - start
        with self.listener.lock:
            n_lines, n_bytes = len(self.listener.lines), self.listener.nbytes
        res = {
            "tick_s": tick_s,
            "lines": len(pdf),
            "matched_ratio": float((pdf["_kind"] != 3).mean()),
            "graphite_lines": n_lines - self._seen[0],
            "graphite_bytes": n_bytes - self._seen[1],
            "tick": pdf.attrs["tick"],
        }
        self._seen = (n_lines, n_bytes)
        return res

    def warm_up(self) -> None:
        """One tick off the schedule: the daemon is long-running, so the
        measured ticks are its steady state."""
        self.op(-1)

    def op(self, i: int) -> dict:
        pdf = self.next_lines()
        if i < 0:  # warm-up: not on the schedule
            due = time.perf_counter()
        else:
            if self.due0 is None:
                self.due0 = time.perf_counter()
            due = self.due0 + i * self.INTERVAL_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
        start = time.perf_counter()
        res = self.drain(pdf)
        end = start + res["tick_s"]
        return {
            **res,
            "latency_s": end - due,
            "busy_s": end - start,
            "wall_s": end - start,
            "late_s": max(0.0, start - due),
            "work": len(pdf),
        }

    def finish(self, results: dict[int, dict]) -> set[int]:
        """Latest 1m counters equal the generated matching lines, and the
        listener received every expected Graphite line.  The warm-up
        tick is checked too; a wrong one marks the run incorrect (-1)."""
        op_of = {res["tick"]: i for i, res in results.items()}
        bad: set[int] = set()
        latest = (
            self.daemon.read_tier_latest("1m")
            .where(F.col("kind") == "counter")
            .select("source", "metric", "window_start", "sum")
            .toPandas()
        )
        latest["tick"] = ((latest["window_start"] - gen.EPOCH) / pd.Timedelta(minutes=1)).astype(int)
        got = {(r.source, r.metric, r.tick): int(r.sum) for r in latest.itertuples()}
        with self.listener.lock:
            received = Counter(self.listener.lines)
            n_received = len(self.listener.lines)
        n_expected = 0
        epoch0 = int(pd.Timestamp(gen.EPOCH, tz="UTC").timestamp())
        for tick, pdf in self.ticks.items():
            op = op_of.get(tick, -1)
            epoch = epoch0 + 60 * (tick + 1)
            for host, g in pdf.groupby("source"):
                want = {
                    "http.requests": int((g["_kind"] == 0).sum()),
                    "http.errors": int((g["_kind"] == 1).sum()),
                }
                # Graphite lines per tier row: counter 1, timer 6, meter 2, gauge 1
                n_expected += 9 * bool(want["http.requests"]) + bool(want["http.errors"])
                n_expected += bool((g["_kind"] == 2).any())
                for metric, n in want.items():
                    line = f"logtrics.{host}.{metric}.count {n} {epoch}"
                    if n and (got.get((host, metric, tick)) != n or not received[line]):
                        bad.add(op)
        if n_received != n_expected:
            bad.update(op_of.values())
        if not (self.prom.exists() and self.prom.stat().st_size > 0):
            bad.add(-1)
        return bad

    def close(self) -> None:
        if not hasattr(self, "listener"):  # set-up did not get this far
            return
        self.listener.shutdown()
        self.listener.server_close()
        self.listener_thread.join(timeout=10)
        shutil.rmtree(self.work / "live", ignore_errors=True)


# ================================================================== curate
class Curate(Workload):
    """curate() with its default flags over a seeded corpus with planted
    exact and near duplicates."""

    name = "curate"

    def gen_inputs(self) -> None:
        self.docs, self.plan = gen.corpus(self.seed)

    def prepare(self) -> None:
        self.df = self.spark.createDataFrame(self.docs)

    def op(self, i: int) -> dict:
        from logtrics_spark.plans.curation import curate

        t0 = time.perf_counter()
        with self.tracer.span("bench.curate"):
            kept, stats = curate(self.df)
            rows = kept.select("doc_id", "text").collect()
        dt_s = time.perf_counter() - t0
        return {"latency_s": dt_s, "busy_s": dt_s, "wall_s": dt_s, "work": len(self.docs), "rows": rows, "stats": stats}

    def check(self, i: int, res: dict, traced: bool) -> None:
        rows = res.pop("rows")
        ids = {r["doc_id"] for r in rows}
        texts = Counter(r["text"] for r in rows)
        expect(texts and max(texts.values()) == 1, "two kept docs share a text")
        for g in self.plan["exact_groups"]:
            expect(len(ids.intersection(g)) == 1, f"exact group {g} kept {len(ids.intersection(g))} docs")
        near_kept = sum(len(ids.intersection(p)) == 1 for p in self.plan["near_pairs"])
        res["near_dup_recall"] = near_kept / max(1, len(self.plan["near_pairs"]))


WORKLOADS = {w.name: w for w in (Backfill, Daily, Live, Curate)}
