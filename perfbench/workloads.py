"""Workloads and the operations they are made of.

Every operation drives the engine only through its public entry points:
``queries.registry.REGISTRY`` callables, ``MedallionPipeline(...).dag()
.run_managed()``, ``queries.writeside.merge_upsert_orders_txnlog`` and
``streaming.fraud.fraud_alerts_stream`` with ``streaming.metrics.
harvest_progress``. An operation has two timed phases: ``plan`` (the call
that builds the work, including any eager materialisation or commits it
does) and ``execute`` (the action that finishes it). ``check`` verifies
its output after both phases, outside the timed window.
"""

from __future__ import annotations

import json
import os
import random
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

from digests import STREAM_TWIN, result_digest
from layers import process_tree

PERFBENCH = Path(__file__).resolve().parent
ROOT = PERFBENCH.parent
DATA = PERFBENCH / "data"
ENGINE = "telecom_dataengineering_pipeline_spark"

WORKLOADS: dict[str, list[str]] = {
    # One member of each query family below, sized so that a run fits the
    # benchmark's time budget: scan + broadcast join + codegen
    # (revenue_by_nation), per-round jobs, shuffles and lineage cuts
    # (pagerank), Python/Arrow workers behind a persisted, cut lineage
    # (dedup_embedding_cosine). The cf pair aggregate stays in ``pairs``:
    # it alone took as long as these three.
    "queries": ["revenue_by_nation", "pagerank_purchase_graph", "dedup_embedding_cosine"],
    # Scan, broadcast join and codegen; no lineage cuts, loops or Python
    # workers. The bypass workload for loop, cut and llmprep changes.
    "relational": [
        "hourly_usage_rollup", "pricing_summary_rollup", "star_join_enriched_orders",
        "customer_monthly_summary", "latest_event_per_user_type", "revenue_by_nation",
        "shipping_priority_topk", "waiting_supplier_ranking", "user_sliding_window_counts",
        "fraud_impossible_travel", "sequence_funnel_purchase", "km_survival_customer_churn",
        "value_quantile_sketch", "asof_join_price_changes", "bloom_semi_join_stats",
        "holt_forecast_nation_revenue",
    ],
    # Per-round jobs, eager lineage cuts and re-shuffles.
    "iterative": [
        "pagerank_purchase_graph", "sssp_copurchase_costs", "adamic_adar_copurchase",
        "association_rules_copurchase", "ann_pq_adc_topk",
    ],
    # Candidate-pair self-joins, big hash aggregates, Python/Arrow workers.
    "pairs": [
        "cf_item_neighbors_copurchase", "dedup_jaccard_pairs", "dedup_minhash_lsh_pairs",
        "dedup_embedding_cosine", "dedup_incremental_lsh_probe", "knn_cosine_bruteforce",
        "winnowing_fingerprint_pairs", "text_quality_scores", "training_set_summary",
    ],
    # The write path and the stream: medallion DAG, txnlog MERGE, fraud stream.
    "ingest": ["medallion_dag", "merge_upsert_orders_txnlog", "fraud_stream"],
}

# Ingest sizes. The DAG's cost is almost all per-stage overhead at these
# sizes (10-12 s per pass from 20k to 200k events on 4 CPUs).
DAG_EVENTS, DAG_CUSTOMERS = 20_000, 500
STREAM_BATCHES = 3
STREAM_TIMEOUT_S = 60
# A micro-batch boundary moves by up to this share of a batch, per seed.
BATCH_JITTER = 0.25


def data_dir(sf: str) -> str:
    return str(DATA / f"sf{sf}")


def prepare_environment(work: Path, cpus: int) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into ``work`` (inside the checkout), and size ``local[N]``.
    Must run before the JVM starts."""
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # Neither the launcher JVM nor the driver JVM writes an hsperfdata file
    # into the system temp directory.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(work)


def start_session():
    """The bench engine configuration, exactly as ``bench.py`` builds it."""
    from telecom_dataengineering_pipeline_spark.benchlib import bench_session

    spark = bench_session("perfbench")
    # Keep every micro-batch's progress so the harvest sees all of them.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(4 * STREAM_BATCHES))
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    until every one of those processes has exited. (Stopping the session
    alone leaves the JVM to exit on its own after this process does.)"""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{pid}") for pid in tree):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {sorted(tree)}")
        time.sleep(0.05)


@dataclass
class Op:
    """One closed-loop operation. ``plan`` returns a handle; ``execute``
    finishes it and returns its output; ``check`` (optional) returns True
    when the output is correct; ``layers`` (optional) returns what the
    output tells about its layers: DAG stage times, micro-batch progress,
    counters."""

    name: str
    plan: Callable[[], object]
    execute: Callable[[object], object]
    check: Callable[[object, object], bool] | None = None
    layers: Callable[[object, object], dict] | None = None
    is_query: bool = True


def query_ops(spark, names: list[str], sf_dir: str, digests: dict) -> list[Op]:
    """Registry queries. The action collects the result (a few rows to a few
    thousand); ``check`` compares its digest after the window closes."""
    from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

    return [
        Op(
            name,
            lambda fn=REGISTRY[name].fn: fn(spark, sf_dir),
            lambda df: df.toPandas(),
            lambda _df, pdf, want=digests[name]: result_digest(pdf) == want,
        )
        for name in names
    ]


class Ingest:
    """The ``ingest`` workload: medallion DAG, txnlog MERGE, fraud stream."""

    def __init__(self, spark, sf_dir: str, work: Path, seed: int, digests: dict):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.digests = digests
        self.runs = 0

    # -- staging ---------------------------------------------------------
    def stage(self) -> None:
        """Write the event stream as time-ordered shards ``b{i}``, one file
        each, and pin their mtimes so ``FileStreamSource`` reads them in
        event-time order. The seed jitters where batches split, keeping the
        order and the batch count."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from telecom_dataengineering_pipeline_spark.queries.fraud import N_TOWERS
        from telecom_dataengineering_pipeline_spark.sources.catalog import load_table
        from telecom_dataengineering_pipeline_spark.streaming.staging import pin_staging_mtimes

        ev = load_table(self.spark, self.sf_dir, "events")
        tower = F.col("event_id") % N_TOWERS
        located = ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            (F.lit(-35.0) + tower * 5.5).alias("lat"),
            (F.lit(-160.0) + tower * 22.0).alias("lon"),
        )
        self.schema = located.schema
        table = located.toArrow().sort_by([("us", "ascending"), ("event_id", "ascending")])
        n = table.num_rows
        step = n / STREAM_BATCHES
        rng = random.Random(self.seed)
        cuts = [0]
        for i in range(1, STREAM_BATCHES):
            jitter = rng.uniform(-BATCH_JITTER, BATCH_JITTER) * step
            cuts.append(min(n - (STREAM_BATCHES - i), max(cuts[-1] + 1, round(i * step + jitter))))
        cuts.append(n)
        for i in range(STREAM_BATCHES):
            shard = self.work / "stream" / f"b{i}"
            shard.mkdir(parents=True)
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), shard / "part-00000.parquet")
        pin_staging_mtimes(str(self.work / "stream"), STREAM_BATCHES)

    # -- operations ------------------------------------------------------
    def ops(self) -> list[Op]:
        self.runs += 1
        return [self._dag_op(), self._merge_op(), self._stream_op()]

    def _dag_op(self) -> Op:
        from telecom_dataengineering_pipeline_spark.plans.medallion import MedallionPipeline

        base = self.work / f"medallion{self.runs}"
        windows: dict[str, tuple[float, float]] = {}

        def plan():
            dag = MedallionPipeline(self.spark, str(base), n_events=DAG_EVENTS, n_customers=DAG_CUSTOMERS).dag()
            for stage in dag.stages:
                stage.run = _windowed(stage.name, stage.run, windows)
            return dag

        def layers(_dag, run) -> dict:
            return {
                "stages": [(r.name, r.duration) for r in run.results],
                "stage_windows": dict(windows),
                "counters": {"plans.stages": len(run.results), "bronze_bytes": _tree_bytes(base / "bronze")},
            }

        return Op("medallion_dag", plan, lambda dag: dag.run_managed(),
                  check=lambda _dag, run: run.ok, layers=layers, is_query=False)

    def _merge_op(self) -> Op:
        (op,) = query_ops(self.spark, ["merge_upsert_orders_txnlog"], self.sf_dir, self.digests)
        # The query's own per-process table directory under TMPDIR.
        table_dir = Path(tempfile.gettempdir()) / (
            f"txnlog_merge_{os.path.basename(self.sf_dir.rstrip('/'))}_{os.getpid()}"
        )
        op.layers = lambda _df, _out: {"counters": {"sources.txnlog_files": _count_files(table_dir)}}
        return op

    def _stream_op(self) -> Op:
        from telecom_dataengineering_pipeline_spark.queries import fraud as q
        from telecom_dataengineering_pipeline_spark.streaming.fraud import FraudConfig, fraud_alerts_stream

        cfg = FraudConfig(
            min_distance_km=q.MIN_DISTANCE_KM,
            speed_alert_kmh=q.SPEED_ALERT_KMH,
            speed_high_kmh=q.SPEED_HIGH_KMH,
            velocity_window_s=q.VELOCITY_WINDOW_S,
            velocity_alert=q.VELOCITY_ALERT,
            velocity_high=q.VELOCITY_HIGH,
        )
        source = self.work / "stream"
        sink = f"perfbench_alerts_{self.runs}"
        checkpoint = self.work / f"checkpoint{self.runs}"

        def plan():
            stream = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(source / "b*"))
            )
            return (
                fraud_alerts_stream(stream, cfg)
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", str(checkpoint))
                .trigger(availableNow=True)
            )

        def execute(writer):
            from telecom_dataengineering_pipeline_spark.streaming.metrics import harvest_progress

            query = writer.start()
            if not query.awaitTermination(STREAM_TIMEOUT_S):
                query.stop()
                raise TimeoutError(f"stream did not drain within {STREAM_TIMEOUT_S} s")
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            return {
                "harvest": harvest_progress(query),
                "progress": [json.loads(p.json) for p in query.recentProgress],
            }

        def check(_query, _out) -> bool:
            alerts = self.spark.table(sink).select("alert_type", "alert_id", "user_id", "severity")
            return result_digest(alerts.toPandas()) == self.digests[STREAM_TWIN]

        return Op("fraud_stream", plan, execute, check=check, layers=_stream_layers, is_query=False)


def _stream_layers(_query, out) -> dict:
    """Per-batch times and state sizes from the progress JSON."""
    batches = []
    for rec, p in zip(out["harvest"], out["progress"]):
        d = p.get("durationMs", {})
        state = p.get("stateOperators", [])
        batches.append({
            "start_ms": datetime.fromisoformat(rec[3].replace("Z", "+00:00")).timestamp() * 1000,
            "trigger_ms": rec[6],
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
            "state_rows": rec[7],
            "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            "input_rows": rec[4],
        })
    return {"batches": batches}


def _windowed(name: str, fn: Callable[[], None], windows: dict) -> Callable[[], None]:
    """Wrap a DAG stage's callable to record when it ran (first attempt's
    start to last attempt's end)."""

    def run() -> None:
        start = time.perf_counter()
        try:
            fn()
        finally:
            windows[name] = (windows.get(name, (start,))[0], time.perf_counter())

    return run


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _count_files(path: Path) -> int:
    return sum(1 for f in path.rglob("*") if f.is_file())
