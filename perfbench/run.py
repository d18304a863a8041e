"""Benchmark of the syslog_ng_spark engine: one workload per run.

    python3 perfbench/run.py --workload etl_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. The run is one driver process in Spark
local mode with ``CORES`` task threads and ``SHUFFLE_PARTITIONS`` shuffle
partitions; the JVM heap is fixed through ``SPARK_DRIVER_MEM``. The load
is a closed loop: one batch pass at a time, each starting when the
previous one (and its output check) has finished.

A run
1. starts the session, generates the input from ``--seed`` (untimed) and
   fingerprints it;
2. runs the first, cold pass: ``setup_s`` is the process's age when the
   session was ready plus this pass's wall time;
3. with ``--trace 0``, runs ``WARMUP_PASSES`` more unmeasured passes,
   then measures passes for ``--seconds`` and at least
   ``MIN_PASSES`` of them, and reports the end-to-end metrics; with
   ``--trace 1``, runs the traced pass (tracing.py) and reports the
   per-layer metrics.

Every pass is checked against expectations computed independently of
the engine; a pass that raises or fails its check counts in ``failed``.
The last line of standard output is the result object; the line before
it is the run record (input fingerprint, pass times, host noise).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = CORES
DRIVER_MEM = "1g"

# input size per workload
SIZES = {
    "etl_fanout": {"n_convs": 4000},
    "neardup_dedup": {"n_docs": 2000},
}

# Pass times keep falling for about eight passes while the JVM compiles
# hot code, and a full parent-versus-change comparison (48 runs) has to
# fit in 57 minutes. So a run warms up with few passes and then measures
# a fixed minimum of passes whose median it reports. Two passes take
# longer than ``--seconds`` here, so the measured passes are the same
# passes of the process in every run. neardup_dedup's pass right after
# the cold one is its least steady (over five seeds its time ranged over
# a quarter of its median, the next pass's over a tenth), so it is an
# unmeasured warm-up pass; etl_fanout's input generation leaves no time
# for one. The run record keeps every pass time and the drift that
# remains in the measured window.
MIN_PASSES = 2
WARMUP_PASSES = {"etl_fanout": 0, "neardup_dedup": 1}

END_TO_END = {
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "io.scan_s": "s",
    "io.write_s": "s",
    "io.written_mb": "MB",
    "io.files_written": "count",
    "parsers.syslog_s": "s",
    "parsers.kv_s": "s",
    "parsers.matched_share": "share",
    "enrich.s": "s",
    "enrich.hit_share": "share",
    "pipeline.route_s": "s",
    "pipeline.metrics_s": "s",
    "pipeline.persist_mb": "MB",
    "grouping.sessionize_s": "s",
    "grouping.salted_agg_s": "s",
    "grouping.skew_ratio": "ratio",
    "dedup.minhash_s": "s",
    "dedup.simhash_s": "s",
    "dedup.cc_s": "s",
    "dedup.keep_best_s": "s",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verify_yield": "share",
    "dedup.cc_path": "1drv_2dist",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_eval_s": "s",
    "spark.peak_exec_mem_mb": "MB",
    "cold_pass_s": "s",
    "trace.overhead_share": "share",
    "etl.rows_per_s_1t": "1/s",
    "etl.scaling_eff": "share",
    "host.steal_share": "share",
    "host.busy_outside_share": "share",
}


class Tally:
    """Counts passes attempted and failed; a pass fails when it raises or
    when its output check reports a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def run_pass(self, wl, root_pid: int):
        """One timed pass and its (untimed) check. Returns
        ``(wall_s, tree_cpu_s, steal_share)``, or None when the pass raised."""
        noise = procstat.HostNoise(root_pid)
        c0, t0 = procstat.tree_cpu_s(root_pid), time.perf_counter()
        try:
            out = wl.run_pass()
        except Exception:  # a failed pass is a result, not a crash
            traceback.print_exc()
            self.record([f"pass raised: {traceback.format_exc().splitlines()[-1]}"])
            return None
        wall, cpu = time.perf_counter() - t0, procstat.tree_cpu_s(root_pid) - c0
        steal = noise.read()["steal_share"]
        try:
            problems = wl.check(out)
        except Exception:  # output the check cannot even read is wrong output
            traceback.print_exc()
            problems = [f"check raised: {traceback.format_exc().splitlines()[-1]}"]
        finally:
            wl.clear_output()
        self.record(problems)
        return wall, cpu, steal


def _env(work: str) -> None:
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in ("-XX:-UsePerfData", os.environ.get("SPARK_LAUNCHER_OPTS")) if p
    )
    sys.path.insert(0, ROOT)


def _session(work: str, cores: int):
    from syslog_ng_spark.session import get_spark  # noqa: PLC0415

    return get_spark(
        "perfbench", cpus=cores, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is resident from the start, so the tree's
            # peak memory does not depend on when the JVM grows its heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )


def _shutdown(root_pid: int) -> None:
    """Stop Spark and wait until the JVM and the Python workers are gone."""
    from pyspark import SparkContext  # noqa: PLC0415

    tree = [p for p in procstat.descendants(root_pid) if p != root_pid]
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    else:  # stopped while the JVM was still starting
        for pid in tree:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
    for pid in procstat.wait_gone(tree, 30):
        os.kill(pid, signal.SIGKILL)
    procstat.wait_gone(tree, 10)


def _make(name: str, spark, work: str, seed: int):
    import workloads  # noqa: PLC0415

    if name == "etl_fanout":
        return workloads.EtlFanout(spark, work, seed, SIZES[name]["n_convs"])
    return workloads.NeardupDedup(spark, work, seed, SIZES[name]["n_docs"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pid = os.getpid()
    work = os.path.join(HERE, ".work", f"run-{pid}")
    _env(work)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, pid, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(wl, tally: Tally, root_pid: int, seconds: float, min_passes: int = MIN_PASSES) -> list:
    """Closed-loop passes for ``seconds`` and at least ``min_passes``
    completed ones; returns the completed passes. Passes that raise do
    not complete, so the attempts are capped too: a broken engine ends
    the loop when the time is up instead of keeping it going."""
    passes, tries = [], 0
    t_end = time.perf_counter() + seconds
    while (len(passes) < min_passes and tries < min_passes + 2) or time.perf_counter() < t_end:
        tries += 1
        r = tally.run_pass(wl, root_pid)
        if r:
            passes.append(r)
    return passes


def _run(args, pid: int, work: str) -> int:
    sampler = procstat.RssSampler(pid)
    tally = Tally()
    record: dict = {"workload": args.workload, "seed": args.seed, "cores": CORES,
                    "shuffle_partitions": SHUFFLE_PARTITIONS, "driver_mem": DRIVER_MEM}
    layer: dict[str, float] = {}
    passes, rows, setup_s = [], 0, 0.0
    with sampler:
        try:
            t0 = time.perf_counter()
            spark = _session(work, CORES)
            layer["session.start_s"] = time.perf_counter() - t0
            session_age = procstat.process_age_s()
            wl = _make(args.workload, spark, work, args.seed)
            # the input and the expectations are the benchmark's own work:
            # made between the session start and the cold pass, untimed
            t1 = time.perf_counter()
            wl.generate()
            record["input"] = wl.fingerprint()
            rows = wl.rows
            phases = {"session": layer["session.start_s"], "generate": time.perf_counter() - t1}
            noise = procstat.HostNoise(pid)
            t1 = time.perf_counter()
            cold = tally.run_pass(wl, pid)
            phases["cold"] = time.perf_counter() - t1
            setup_s = session_age + (cold[0] if cold else phases["cold"])
            record["setup"] = {"session_age_s": session_age, "cold_pass_s": cold and cold[0],
                               "process_age_s": procstat.process_age_s()}
            layer["cold_pass_s"] = cold[0] if cold else 0.0

            t1 = time.perf_counter()
            if args.trace:
                traced, untraced_s = _trace(args, wl, tally, pid)
                layer.update(traced)
                # read before the restart below: workers of the stopped
                # context leave the tree and would count as outside load
                host = noise.read()
                if args.workload == "etl_fanout" and untraced_s:
                    layer.update(_single_thread(wl, tally, pid, work, untraced_s))
            else:
                warmup = [tally.run_pass(wl, pid) for _ in range(WARMUP_PASSES[args.workload])]
                record["warmup_passes_s"] = [r and r[0] for r in warmup]
                passes = measure(wl, tally, pid, args.seconds)
                if len(passes) > 1:  # how far the last pass is below the first
                    record["measured_drift"] = 1 - passes[-1][0] / passes[0][0]
                host = noise.read()
            phases["measure"] = time.perf_counter() - t1
            record["phases_s"] = phases
        finally:
            _shutdown(pid)
    layer["host.steal_share"] = host["steal_share"]
    layer["host.busy_outside_share"] = host["busy_outside_share"]
    record.update(host=host, passes_s=[p[0] for p in passes], pass_cpu_s=[p[1] for p in passes],
                  pass_steal_share=[p[2] for p in passes],
                  attempted=tally.attempted, failed=tally.failed, failed_share=tally.failed_share,
                  problems=tally.problems[:10], rss_samples=sampler.samples)

    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = end_to_end(passes, rows, setup_s, sampler.peak_mb)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print_result(args.workload, metrics, tally, record, measured=bool(args.trace or passes))
    return 0


def end_to_end(passes: list, rows: int, setup_s: float, peak_mb: float) -> dict[str, float]:
    """The end-to-end values from the measured ``(wall_s, cpu_s, steal)``
    passes. Without a completed pass there is no throughput to report;
    the values are then 0, and the result says the run is not correct."""
    if not passes:
        print("no measured pass completed", file=sys.stderr)
        return {"rows_per_s": 0.0, "cpu_s_per_mrow": 0.0, "setup_s": setup_s, "peak_rss_mb": peak_mb}
    wall = statistics.median(p[0] for p in passes)
    cpu = statistics.median(p[1] for p in passes)
    return {
        "rows_per_s": rows / wall,
        "cpu_s_per_mrow": cpu / rows * 1e6,
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
    }


def print_result(workload: str, metrics: dict, tally: Tally, record: dict, measured: bool) -> None:
    """The metric table, the run record and, last, the result object. A
    run with a failed pass, or without a measured pass, is not correct."""
    for k, m in metrics.items():
        print(f"{workload:14s} {k:26s} {m['value']:14.6g} {m['unit']}")
    print(f"{workload:14s} {'failed_share':26s} {tally.failed_share:14.6g} share"
          f"  ({tally.failed}/{tally.attempted} passes)")
    print("record " + json.dumps(record, default=str))
    print(json.dumps({"correct": measured and tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))


def _trace(args, wl, tally: Tally, pid: int) -> tuple[dict[str, float], float | None]:
    """Per-layer metrics from the traced chain, and the wall time of the
    untraced pass that follows it (None if that pass raised)."""
    import tracing  # noqa: PLC0415

    tr = tracing.Tracer(wl.spark, run=f"{args.workload}/seed{args.seed}")
    layer = tracing.TRACERS[args.workload](wl, tr)
    layer.update({f"spark.{k}": v for k, v in tr.totals().items()})
    for s in tr.spans:
        print("span " + json.dumps({"name": s.name, "parent": s.parent, "start": s.start,
                                    "end": s.end, "seconds": s.seconds, **s.counters}))
    # an untraced pass at the same warmth: the base of the tracing
    # overhead and of the scaling efficiency
    r = tally.run_pass(wl, pid)
    if r is None:
        return layer, None
    layer["trace.overhead_share"] = tr.elapsed() / r[0] - 1
    return layer, r[0]


def _single_thread(wl, tally: Tally, pid: int, work: str, untraced_s: float) -> dict[str, float]:
    """Passes in a fresh local[1] context in the same JVM; the first one
    restarts the Python workers, the second is timed."""
    wl.spark.stop()
    wl.bind(_session(work, 1))
    times = [r[0] for r in (tally.run_pass(wl, pid) for _ in range(2)) if r]
    if not times:
        return {}
    return {"etl.rows_per_s_1t": wl.rows / times[-1],
            "etl.scaling_eff": times[-1] / (CORES * untraced_s)}


if __name__ == "__main__":
    sys.exit(main())
