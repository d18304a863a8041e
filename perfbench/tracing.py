"""The traced run: one pass executed as named spans, each forced through
Spark's ``noop`` sink (or its own action), with Spark's task counters
read from the application status stores around every span.

Spans are recorded from outside the engine, around calls into its public
functions; nothing inside ``syslog_ng_spark`` is instrumented. A layer's
self time is the difference between a prefix span and the prefix before
it (read; read+parse; read+parse+kv; ...), because each prefix
recomputes from the scan. The chain runs ``ROUNDS`` times and every span
keeps its fastest round, so one slow span (a GC pause, a compile burst)
does not turn the next layer's difference negative.
"""

from __future__ import annotations

import inspect
import os
import re
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from syslog_ng_spark.operators import dedup, parsers
from syslog_ng_spark.sources import read_transcripts

from workloads import THRESHOLD, EtlFanout, NeardupDedup, dir_size, noop

MB = 2**20
ROUNDS = 2
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_timing(text: str | None) -> float:
    """Seconds from a SQL timing metric string such as
    ``'total (min, med, max ...)\\n17.1 s (4.2 s, ...)'``."""
    if not text:
        return 0.0
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


@dataclass
class Span:
    name: str
    parent: str
    start: float
    end: float
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Task counters of the jobs and SQL executions started since a mark,
    from ``statusStore()`` of the SparkContext and of the SQL shared
    state. The listener bus is drained first, because the stores are
    filled asynchronously."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._sc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> tuple[int, int]:
        """(highest job id, number of SQL executions) so far."""
        self._drain()
        return max(self._tracker.getJobIdsForGroup(), default=-1), self._sql.executionsCount()

    def stages_since(self, mark: tuple[int, int]) -> list:
        self._drain()
        ids = set()
        for j in self._tracker.getJobIdsForGroup():
            if j > mark[0]:
                ids.update(self._list(self._store.job(j).stageIds()))
        return [self._store.lastStageAttempt(i) for i in sorted(ids)]

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        stages = self.stages_since(mark)
        py_s = 0.0
        new = self._sql.executionsCount() - mark[1]
        for e in self._list(self._sql.executionsList(mark[1], new)):
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            for node in self._list(self._sql.planGraph(e.executionId()).allNodes()):
                if "EvalPython" not in node.name():
                    continue
                # "time to run Python workers"; the start and initialize
                # timers overlap it, so they are not added
                for m in self._list(node.metrics()):
                    if m.metricType() == "timing" and "run Python" in m.name():
                        py_s += _parse_timing(values.get(m.accumulatorId()))
        return {
            "task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "task_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / MB,
            "spill_mb": sum(s.diskBytesSpilled() for s in stages) / MB,
            "python_eval_s": py_s,
            # a stage's peak execution memory is the sum of its tasks' peaks
            "peak_exec_mem_mb": max((s.peakExecutionMemory() for s in stages), default=0) / MB,
        }

    def skew_ratio(self, mark: tuple[int, int]) -> float:
        """Slowest over median task run time in the busiest shuffle-reading
        stage since ``mark`` (for sessionizing, the Window stage)."""
        reading = [s for s in self.stages_since(mark) if s.shuffleReadBytes() > 0]
        if not reading:
            return 0.0
        s = max(reading, key=lambda s: s.executorRunTime())
        runs = [
            t.taskMetrics().get().executorRunTime()
            for t in self._list(self._store.taskList(s.stageId(), s.attemptId(), 100_000))
            if t.taskMetrics().isDefined()
        ]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 0.0

    def cached_mb(self) -> float:
        self._drain()
        return sum(r.memoryUsed() + r.diskUsed() for r in self._list(self._store.rddList(True))) / MB


class Tracer:
    """Keeps spans in memory; ``span`` times one call and reads Spark's
    counters for the work it started. Spans of one round of the chain
    share the parent ``<run>/round<k>``."""

    COUNTERS = ("task_cpu_s", "task_run_s", "gc_s", "shuffle_write_mb", "spill_mb",
                "python_eval_s", "peak_exec_mem_mb")

    def __init__(self, spark: SparkSession, run: str):
        self.counters = SparkCounters(spark)
        self.run = run
        self.round = 0
        self.spans: list[Span] = []
        self.last_mark = None

    def span(self, name: str, fn) -> None:
        mark = self.counters.mark()
        t0 = time.perf_counter()
        fn()
        t1 = time.perf_counter()
        self.last_mark = mark
        parent = f"{self.run}/round{self.round}"
        self.spans.append(Span(name, parent, t0, t1, self.counters.since(mark)))

    def best(self, name: str) -> float:
        """The span's fastest round."""
        return min(s.seconds for s in self.spans if s.name == name)

    def _last_round(self) -> list[Span]:
        return [s for s in self.spans if s.parent.endswith(f"/round{self.round}")]

    def totals(self) -> dict[str, float]:
        """Spark counters summed over the spans of the last round."""
        out = {}
        for k in self.COUNTERS:
            vals = [s.counters[k] for s in self._last_round()]
            out[k] = max(vals, default=0.0) if k.startswith("peak") else sum(vals)
        return out

    def elapsed(self) -> float:
        return sum(s.seconds for s in self._last_round())


def trace_etl(wl: EtlFanout, tr: Tracer) -> dict[str, float]:
    spark = wl.spark
    read = lambda: read_transcripts(spark, wl.path)  # noqa: E731
    sink_dir = os.path.join(wl.work, "sinks")
    for k in range(ROUNDS):
        tr.round = k
        tr.span("read", lambda: noop(read()))
        tr.span("read+syslog_parser", lambda: noop(parsers.syslog_parser(read())))
        tr.span("...+kv_parser", lambda: noop(wl.parsed()))
        tr.span("...+add_contextual_data", lambda: noop(wl.enriched()))
        tr.span("...+route", lambda: noop(wl.pipeline.route(wl.enriched(), persist=False).df))
        routed = wl.pipeline.route(wl.enriched())
        try:
            # building the persisted frame is not a prefix difference: a
            # cache build and a noop write materialize rows differently
            tr.span("route.persist", lambda: noop(routed.df))
            persist_mb = tr.counters.cached_mb()
            tr.span("route.metrics", lambda: routed.metrics().collect())
            tr.span("route.write_sinks", lambda: routed.write_sinks(sink_dir))
            files, size = dir_size(sink_dir)
            tr.span("grouping_by", lambda: noop(wl.sessions(routed.df)))
            skew = tr.counters.skew_ratio(tr.last_mark)
            tr.span("salted_agg", lambda: noop(wl.salted(routed.df)))
        finally:
            routed.unpersist()
            wl.clear_output()
    matched = parsers.syslog_parser(read()).agg(F.avg(F.col("syslog_matched").cast("double"))).first()[0]
    hit = wl.enriched().agg(F.avg(F.col("ctx").isNotNull().cast("double"))).first()[0]
    t = tr.best
    return {
        "io.scan_s": t("read"),
        "io.write_s": t("route.write_sinks"),
        "io.written_mb": size / MB,
        "io.files_written": files,
        "parsers.syslog_s": t("read+syslog_parser") - t("read"),
        "parsers.kv_s": t("...+kv_parser") - t("read+syslog_parser"),
        "parsers.matched_share": matched,
        "enrich.s": t("...+add_contextual_data") - t("...+kv_parser"),
        "enrich.hit_share": hit,
        "pipeline.route_s": t("...+route") - t("...+add_contextual_data"),
        "pipeline.metrics_s": t("route.metrics"),
        "pipeline.persist_mb": persist_mb,
        "grouping.sessionize_s": t("grouping_by"),
        "grouping.salted_agg_s": t("salted_agg"),
        "grouping.skew_ratio": skew,
    }


def trace_neardup(wl: NeardupDedup, tr: Tracer) -> dict[str, float]:
    spark = wl.spark
    docs = wl.docs
    mh = lambda: dedup.minhash_lsh(docs(), threshold=THRESHOLD)  # noqa: E731

    def step(name, fn):
        try:
            tr.span(name, fn)
        finally:
            spark.catalog.clearCache()

    for k in range(ROUNDS):
        tr.round = k
        step("read", lambda: noop(docs()))
        step("read+minhash_lsh", lambda: noop(mh()))
        step("...+connected_components", lambda: noop(dedup.connected_components(mh())))
        step("...+dedup_keep_best", lambda: noop(dedup.dedup_keep_best(docs(), mh(), "score")))
        step("read+simhash_near_dup", lambda: noop(dedup.simhash_near_dup(docs(), threshold=THRESHOLD)))
    # threshold 0 lets every LSH candidate through verification
    counts = dedup.minhash_lsh(docs(), threshold=0.0).agg(
        F.count(F.lit(1)).alias("candidates"),
        F.count(F.when(F.col("jaccard") >= THRESHOLD, 1)).alias("verified"),
    ).first()
    candidates, verified = counts["candidates"], counts["verified"]
    spark.catalog.clearCache()
    bound = inspect.signature(dedup.connected_components).parameters["driver_max_edges"].default
    t = tr.best
    return {
        "io.scan_s": t("read"),
        "dedup.minhash_s": t("read+minhash_lsh") - t("read"),
        "dedup.cc_s": t("...+connected_components") - t("read+minhash_lsh"),
        "dedup.keep_best_s": t("...+dedup_keep_best") - t("...+connected_components"),
        "dedup.simhash_s": t("read+simhash_near_dup") - t("read"),
        "dedup.candidates": candidates,
        "dedup.verified": verified,
        "dedup.verify_yield": verified / candidates if candidates else 0.0,
        "dedup.cc_path": 1 if bound is not None and verified <= bound else 2,
    }


TRACERS = {EtlFanout.name: trace_etl, NeardupDedup.name: trace_neardup}
