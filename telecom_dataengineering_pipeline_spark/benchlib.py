"""Shared bench measurement protocol — the ONE definition used by both
``bench.py`` (the driver-facing CLI) and ``bench_gate`` (the regression
gate), so the gate always measures under exactly the conditions the
baseline was recorded with.

Protocol per query: warm once (plan + whole-stage-codegen JIT — constant
overhead that amortizes away at real scale), measure the steady-state run,
then drop BOTH cache layers: ``catalog.clearCache()`` (CacheManager / SQL
cache) and the persistent-RDD map (RDDs pinned by ``localCheckpoint``,
which clearCache misses), so later queries aren't timed under earlier
queries' residue.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

# --- Ambient-noise sentinel (VERDICT r11 item 2) -------------------------
#
# Two straight rounds of gate numbers needed manual exoneration because the
# driver's bench session landed on a contended host window (r10: disjoint
# FAIL sets across back-to-back runs; r11: 1.40x geomean that re-measured
# at 1.12x solo). The sentinel makes that mechanical: loadavg + foreign-JVM
# count + a fixed-cost CPU spin whose wall-clock inflation vs a pinned
# quiet-window reference is emitted with every bench JSON, so a judge or
# driver can discount a noisy session without re-running it.
PROBE_ITERS = 6_000_000
# Quiet-window median-of-10 of the spin on this instance class
# (2026-08-16, loadavg < 1.6, zero java processes: samples 0.541-0.604 s).
# If the fleet hardware changes, re-pin with:
#   python -c "from telecom_dataengineering_pipeline_spark.benchlib import _probe_spin_sec;
#              print(sorted(_probe_spin_sec() for _ in range(10)))"
PROBE_REFERENCE_SEC = 0.55
# Inflation past this reads as host contention (the quiet-host run-to-run
# band is ~±10%; the r11 noisy window measured the same binaries ~1.3-2x).
PROBE_NOISY_FACTOR = 1.3


def _probe_spin_sec() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(PROBE_ITERS):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _count_foreign_java() -> int:
    """Java processes NOT owned by this driver (our own local[*] JVM is a
    direct child) — concurrent Spark/pytest sessions are the #1 recorded
    cause of garbage bench numbers on this instance class."""
    me = str(os.getpid())
    n = 0
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return -1
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
            comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
            ppid = raw.rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if comm == "java" and ppid != me:
            n += 1
    return n


def noise_probe() -> dict:
    """One ambient-noise reading: take it at session start and end and ship
    both in the bench JSON. probe_inflation ~1.0 = quiet host;
    > PROBE_NOISY_FACTOR = the host was stealing cycles and every timing
    in the session is suspect."""
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = -1.0
    sec = _probe_spin_sec()
    return {
        "loadavg_1m": round(load1, 2),
        "foreign_java_procs": _count_foreign_java(),
        "probe_sec": round(sec, 4),
        "probe_inflation": round(sec / PROBE_REFERENCE_SEC, 3),
    }


def noise_flags(*probes: dict) -> list[str]:
    """Human-readable contention flags over one or more probe readings —
    emitted in the JSON and printed by bench_gate. Flags ANNOTATE a
    session (a flagged FAIL should be re-judged solo on a quiet window,
    per the r9-r11 protocol); they never auto-pass or auto-fail one."""
    flags: list[str] = []
    for tag, p in zip(("start", "end"), probes):
        if p.get("probe_inflation", 0.0) > PROBE_NOISY_FACTOR:
            flags.append(
                f"{tag}: cpu probe {p['probe_inflation']}x reference — host contention"
            )
        if p.get("foreign_java_procs", 0) > 0:
            flags.append(
                f"{tag}: {p['foreign_java_procs']} foreign java process(es) running"
            )
        # loadavg is only meaningful BEFORE the session: the bench itself
        # saturates local[32], so the end reading reflects our own work.
        if tag == "start" and p.get("loadavg_1m", 0.0) > 8.0:
            flags.append(f"{tag}: loadavg {p['loadavg_1m']} on a 32-cpu host")
    return flags


def bench_session(app_name: str) -> SparkSession:
    """Bench sessions measure the production hash spine (xxhash64 candidate
    generation); correctness runs keep the engine-neutral md5 default the
    DuckDB oracle reproduces. Emitted pairs are exact-verified either way."""
    from .session import get_spark

    spark = get_spark(app_name)
    spark.conf.set("spark.graft.engine_neutral_hash", "false")
    _silence_accumulator_cleanup_noise(spark)
    return spark


def _silence_accumulator_cleanup_noise(spark: SparkSession) -> None:
    """Dropping localCheckpoint RDDs between bench queries can race a
    straggling task-end event whose per-stage metrics accumulator the
    ContextCleaner already unregistered; the DAGScheduler then logs a benign
    ``Failed to update accumulator N (Unknown class) for task M`` ERROR.
    Deny exactly that shape — ``(Unknown class)`` is the already-unregistered
    signature — so the bench tail stays clean without hiding real executor
    errors (a live accumulator failure logs its class name and still
    surfaces). Bench sessions only; normal sessions keep full logs."""
    try:
        jvm = spark.sparkContext._jvm
        Result = jvm.org.apache.logging.log4j.core.Filter.Result
        f = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            r".*Failed to update accumulator \d+ \(Unknown class\) for task.*",
            None,
            False,
            Result.DENY,
            Result.NEUTRAL,
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        conf = ctx.getConfiguration()
        conf.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler").addFilter(f)
        ctx.updateLoggers()
    except Exception:
        pass  # logging-only cosmetics; never fail a bench run over it


# Since r10 EVERY query reports a median-of-VARIANCE_REPS. History: the
# localCheckpoint-heavy dedup/pipeline/iterative/sketch/recommend families
# vary ±40% run-to-run (executor-local block writes + Python worker
# scheduling) and were the first to get median-of-3 (r9, via a tag list);
# the r10 gate episode then showed host steal windows inflating
# single-draw queries up to 8× (two back-to-back gate runs failed DISJOINT
# sets) while those median-of-3 families in the same sessions ran
# at-or-below baseline — on a noisy-neighbor VM the median is the only
# draw worth reporting, so the tag conditionality was retired. The per-rep
# protocol (warm + cache clear + full GC) is unchanged.
VARIANCE_REPS = 3


def _clear_caches(spark: SparkSession) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        # Blocking: block removal completes before the next query is timed,
        # so async cleanup can't overlap (and distort) its measurement.
        rdd.unpersist(True)
    # Force a full JVM GC so one query's garbage (shuffle buffers, dropped
    # broadcast/checkpoint blocks) is never collected DURING the next
    # query's timed window. Measured effect on a 21-query session: queries
    # late in the run were inflated up to 3x vs the same query measured in
    # a fresh session (bloom_semi_join_stats 2.74s -> 1.42s, asof 1.43s ->
    # 1.02s with this in place) — that inflation was cross-query GC debt,
    # not the query. Baseline and gate share this exact protocol.
    spark.sparkContext._jvm.System.gc()


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure_queries(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Timed action is the NOOP SINK since r13 (guide §1.4): ``count()``
    let the optimizer prune columns (and whole subtrees) the query claims
    to produce, so compute-heavy final projections were partly untimed;
    the noop write computes every column of every row and discards it.
    BENCH_BASELINE.json was re-pinned under this protocol in the same
    commit (its note records the change); r12-and-earlier BENCH_*.json
    numbers are count-protocol — cross-protocol ratios are documented in
    OPTIMIZATION_r13.md."""
    from .queries.registry import bench_queries

    timings: dict[str, float] = {}
    for name, fn in bench_queries().items():
        reps = VARIANCE_REPS
        spark.sparkContext.setJobDescription(f"bench warm: {name}")
        _run(fn(spark, sf_dir))  # warm: plan + codegen JIT
        # Drop the warm run's cache residue BEFORE the timed reps: the first
        # rep would otherwise reuse the persisted relations the warm run
        # materialized (CacheManager matches the rebuilt plan) while later
        # reps rebuild them — a median over two different distributions.
        _clear_caches(spark)
        samples: list[float] = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"bench {name} rep {i + 1}")
            t0 = time.perf_counter()
            _run(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            _clear_caches(spark)
        spark.sparkContext.setJobDescription(None)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
    return timings
