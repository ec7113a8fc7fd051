"""Span tracing for the traced benchmark run.

Spans live in memory (name, start, end, parent, op id) and are written
out once, after the run.  They are recorded from the benchmark's side
of each layer boundary: the benchmark's own calls open spans directly,
and in a traced run the public functions of each layer module are
wrapped, so calls the pipeline makes into ``storage.tableio`` or the
operators get spans too.  Nothing under ``logtrics_spark/`` changes.

Every span sets the Spark job group, so the driver's status store
attributes each job (its stages, executor time and shuffle bytes) and
each SQL execution (its Python-node metrics) to the innermost span that
launched it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import sys
import time
from collections import defaultdict

SPAN_GROUP = "pb-span-"
NO_SPAN_GROUP = "pb-none"

# (layer, module, public function); methods are "Class.method".  Only
# driver-side plan builders and actions are wrapped: a function that
# also runs inside an executor closure would be pickled with the
# wrapper and the tracer.  Daemon.refresh_prometheus is the daemon's
# Prometheus flush, so it belongs to the prometheus layer.
TARGETS = [
    ("tableio", "logtrics_spark.storage.tableio", "ParquetTableIO.write_partitioned"),
    ("tableio", "logtrics_spark.storage.tableio", "ParquetTableIO.append_lineage"),
    ("tableio", "logtrics_spark.storage.tableio", "ParquetTableIO.read"),
    ("tableio", "logtrics_spark.storage.tableio", "ParquetTableIO.list_partitions"),
    ("tableio", "logtrics_spark.storage.tableio", "ParquetTableIO.drop_partition"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.ingest_raw"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.run"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.retention"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.pending_units"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.read_tier"),
    ("pipeline", "logtrics_spark.plans.pipeline", "RollupJob.read_tier_from_chunks"),
    ("extract", "logtrics_spark.operators.extract", "extract_points"),
    ("extract", "logtrics_spark.operators.extract", "with_ts"),
    ("rollup", "logtrics_spark.operators.rollup", "rollup"),
    ("rollup", "logtrics_spark.operators.rollup", "cascade"),
    ("gorilla", "logtrics_spark.operators.gorilla", "compress_tier"),
    ("gorilla", "logtrics_spark.operators.gorilla", "decompress_chunks"),
    ("gorilla", "logtrics_spark.operators.gorilla", "decompress_chunks_range"),
    ("gapfill", "logtrics_spark.operators.gapfill", "gapfill"),
    ("series", "logtrics_spark.operators.series", "moving_average"),
    ("api", "logtrics_spark.api", "Engine.run"),
    ("daemon", "logtrics_spark.plans.daemon", "Daemon.process_lines"),
    ("daemon", "logtrics_spark.plans.daemon", "Daemon.compact"),
    ("daemon", "logtrics_spark.plans.daemon", "Daemon.read_tier_latest"),
    ("graphite", "logtrics_spark.sinks.graphite", "to_graphite_lines"),
    ("graphite", "logtrics_spark.sinks.graphite", "send_graphite_tcp"),
    ("prometheus", "logtrics_spark.sinks.prometheus", "to_prometheus_samples"),
    ("prometheus", "logtrics_spark.sinks.prometheus", "render_exposition"),
    ("prometheus", "logtrics_spark.sinks.prometheus", "write_textfile"),
    ("prometheus", "logtrics_spark.plans.daemon", "Daemon.refresh_prometheus"),
    ("curation", "logtrics_spark.plans.curation", "curate"),
    ("text", "logtrics_spark.operators.text", "quality_score"),
    ("text", "logtrics_spark.operators.text", "language_id"),
    ("dedup", "logtrics_spark.operators.dedup", "minhash_lsh_dupes"),
    ("dedup", "logtrics_spark.operators.dedup", "ngram_jaccard_pairs"),
    ("dedup", "logtrics_spark.operators.dedup", "dedup_groups"),
]

PY_NODE = re.compile(r"(InPandas|InArrow|ArrowEvalPython|BatchEvalPython)")


class Tracer:
    """In-memory span recorder; inert unless ``enabled``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        self.sc.setJobGroup(f"{SPAN_GROUP}{sid}", name)
        rec["group_in_s"] = time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{SPAN_GROUP}{top}", self.spans[top]["name"])
            else:
                self.sc.setJobGroup(NO_SPAN_GROUP, "untraced")
            # spent in the parent's interval, so kept out of its self time
            rec["group_out_s"] = time.perf_counter() - rec["end"]

    # ---------------------------------------------------------- wrapping
    def install(self) -> None:
        """Wrap every target, in its module and in every logtrics_spark
        module that imported it by name."""
        import importlib

        for layer, modname, qual in TARGETS:
            module = importlib.import_module(modname)
            if "." in qual:
                cls_name, meth = qual.split(".", 1)
                cls = getattr(module, cls_name)
                orig = cls.__dict__[meth]
                self._patch(cls, meth, orig, self._wrap(orig, f"{layer}.{meth}"))
                continue
            orig = getattr(module, qual)
            wrapped = self._wrap(orig, f"{layer}.{qual}")
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("logtrics_spark") and (
                    getattr(m, qual, None) is orig
                ):
                    self._patch(m, qual, orig, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr, orig, wrapped) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def _wrap(self, fn, name: str):
        tracer = self
        pre, post = HOOKS.get(name, (None, None))

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                # hook time is tracing overhead, kept out of self time
                t0 = time.perf_counter()
                state = pre(args, kwargs) if pre else None
                rec["hook_s"] = time.perf_counter() - t0
                out = fn(*args, **kwargs)
                if post:
                    t0 = time.perf_counter()
                    out = post(rec, args, kwargs, out, state)
                    # a hook may do work the call would have done anyway
                    work = rec.pop("hook_work_s", 0.0)
                    rec["hook_s"] += time.perf_counter() - t0 - work
                return out

        return wrapper

    # ----------------------------------------------------------- output
    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


# ------------------------------------------------------------- span hooks
def _count_files(path):
    n = b = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, f))
    return n, b


def _table_path(args, kwargs) -> str:
    # write_partitioned(self, df, table, ...) / append_lineage(self, rows)
    io = args[0]
    if len(args) > 2:
        return io.path(args[2])
    return io.path(kwargs.get("table", "lineage"))


def _files_before(args, kwargs):
    return _count_files(_table_path(args, kwargs))


def _files_after(rec, args, kwargs, out, before):
    n, b = _count_files(_table_path(args, kwargs))
    rec["files_written"] = n - before[0]
    rec["bytes_written"] = b - before[1]
    return out


def _verify_counts(rec, args, kwargs, out, _state):
    # The LSH candidates arrive materialized; the verified pairs are
    # materialized here once (dedup_groups' first checkpoint would
    # compute them anyway) so both counts come from the running call.
    pairs = args[1] if len(args) > 1 else kwargs["pairs"]
    rec["lsh_candidates"] = pairs.count()
    t0 = time.perf_counter()
    out = out.localCheckpoint()
    rec["hook_work_s"] = time.perf_counter() - t0
    rec["verified_pairs"] = out.count()
    return out


# span name -> (pre(args, kwargs) -> state, post(rec, args, kwargs, out, state) -> out)
HOOKS = {
    "tableio.write_partitioned": (_files_before, _files_after),
    "tableio.append_lineage": (_files_before, _files_after),
    "dedup.ngram_jaccard_pairs": (None, _verify_counts),
}


# ----------------------------------------------------- status-store harvest
def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_metric(text: str | None) -> float:
    """Spark's formatted SQL metric ('1.2 KiB', '2,000', or a
    'total (min, med, max ...)' block whose second line leads with the
    total) -> a plain number in bytes / seconds / units."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1].strip()
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2), 1.0)


def harvest(tracer: Tracer) -> dict:
    """Attribute every Spark job, stage and SQL Python node to a span."""
    sc = tracer.sc
    store = sc._jsc.sc().statusStore()
    jobs = {}
    stage_owner: dict[int, int] = {}
    for j in _seq(store.jobsList(None)):
        grp = _opt(j.jobGroup())
        if not grp or not grp.startswith(SPAN_GROUP):
            continue
        sid = int(grp[len(SPAN_GROUP):])
        jobs[j.jobId()] = sid
        for st in _seq(j.stageIds()):
            stage_owner.setdefault(st, sid)
    per_span = defaultdict(lambda: defaultdict(float))
    for jid, sid in jobs.items():
        per_span[sid]["jobs"] += 1
    for st, sid in stage_owner.items():
        try:
            s = store.lastStageAttempt(st)
        except Exception:  # noqa: BLE001 — skipped stages have no attempt
            continue
        if s.numCompleteTasks() == 0 and s.numTasks() > 0:
            continue
        d = per_span[sid]
        d["stages"] += 1
        d["tasks"] += s.numTasks()
        d["executor_run_s"] += s.executorRunTime() / 1e3
        d["executor_cpu_s"] += s.executorCpuTime() / 1e9
        d["shuffle_read_bytes"] += s.shuffleReadBytes()
        d["shuffle_write_bytes"] += s.shuffleWriteBytes()
    sql = tracer.spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for e in _seq(sql.executionsList()):
        job_ids = [int(x) for x in _seq(e.jobs().keySet().toSeq())]
        owners = [jobs[x] for x in job_ids if x in jobs]
        if not owners:
            continue
        sid = owners[0]
        vals = sql.executionMetrics(e.executionId())
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            name = node.name()
            if not (PY_NODE.search(name) or name == "Generate"):
                continue
            mets = {}
            for m in _seq(node.metrics()):
                mets[m.name()] = parse_metric(_opt(vals.get(m.accumulatorId())))
            nodes.append({"span": sid, "node": name, **mets})
    return {"per_span": {k: dict(v) for k, v in per_span.items()}, "nodes": nodes}
