"""perfbench: the telecom engine's benchmark, one workload per run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

One client process runs a closed loop on ``local[N]`` (N = the CPUs this
process may use) with one operation in flight. Set-up is the session start
and input staging. Then timed passes run until ``--seconds`` of them have
elapsed (at least one). ``wall_s`` is the first pass: every operation as a
freshly submitted job meets it, in a new session (a run is too short to
warm a session and still time more than a few seconds of it). Each
operation's output is verified after its timed window closes.

With ``--trace 1`` the run makes one timed pass, traced: it records spans
and per-layer counters from Spark's own stores after each operation's
window closes, and reports the time that recording took as the tracing
overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the full result
(host contract, samples, per-operation layers) goes to
``.perfbench/results/``, and a traced run's spans beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import host
import layers
import spans
import workloads
from digests import load as load_digests

OP_TIMEOUT_S = 60

# End-to-end metrics printed on the last line: the ones BENCHMARK.json bounds.
# peak_rss_mb is printed above it and kept in the result file only: on
# ingest it spread by 40% between runs of the same code.
END_TO_END = ("setup_s", "wall_s")

# Span kinds whose self time is printed ("op" has none: its plan and
# execute spans tile it).
SELF_KINDS = ("pass", "plan", "execute", "sql", "micro_batch", "dag_stage")
PER_LAYER = {
    "session.start_s": "s",
    "session.gc_ms": "ms",
    "queries.ops": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "sources.scan_ms": "ms",
    "sources.bytes_read": "B",
    "sources.files_read": "count",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "sources.txnlog_files": "count",
    "operators.codegen_ms": "ms",
    "operators.agg_build_ms": "ms",
    "operators.shuffle_bytes_written": "B",
    "operators.shuffle_records_written": "count",
    "operators.spill_bytes": "B",
    "operators.broadcast_bytes": "B",
    "operators.sql_executions": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "lineage.cut_rdds": "count",
    "lineage.cut_bytes": "B",
    "llmprep.python_bytes_sent": "B",
    "llmprep.python_bytes_returned": "B",
    "llmprep.python_rows": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.events_per_s": "1/s",
    "plans.stages": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "trace.evicted_executions": "count",
    "trace.unattached_events": "count",
    **{f"self.{k}_pct": "%" for k in SELF_KINDS},
}
# Counters summed over query operations only: the stream's Python worker
# traffic belongs to the streaming layer, not llmprep.
QUERY_ONLY = ("llmprep.",)


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0.0 for no samples)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(q * len(s) + 0.5) - 1))]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, spark, args, work: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.args = args
        self.sf_dir = workloads.data_dir(args.sf)
        self.digests = load_digests(args.sf)
        self.rng = random.Random(args.seed)
        self.ingest = (
            workloads.Ingest(spark, self.sf_dir, work, args.seed, self.digests)
            if args.workload == "ingest" else None
        )
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes = 0
        self.tracer: spans.Tracer | None = None
        self.harvester: layers.SqlHarvester | None = None

    def ops(self) -> list[workloads.Op]:
        """One pass's operations: ingest's three parts in order, or the
        workload's queries in a seeded order."""
        if self.ingest is not None:
            return self.ingest.ops()
        names = list(workloads.WORKLOADS[self.args.workload])
        self.rng.shuffle(names)
        return workloads.query_ops(self.spark, names, self.sf_dir, self.digests)

    def run_pass(self, ops: list[workloads.Op], traced: bool = False) -> dict:
        from telecom_dataengineering_pipeline_spark.benchlib import _clear_caches

        self.passes += 1
        if traced:
            self.tracer = spans.Tracer()
            self.harvester = layers.SqlHarvester(self.spark)
        start = time.perf_counter()
        pass_span = self.tracer.add(f"pass {self.passes}", "pass", start, start) if traced else None
        records = []
        for op in ops:
            records.append(self._run_op(op, traced, pass_span))
            _clear_caches(self.spark)  # bench.py's protocol: no residue, no GC debt
        end = time.perf_counter()
        if pass_span is not None:
            pass_span.end = end
        check_s = sum(r["check_s"] for r in records)
        return {
            "wall_s": sum(r["plan_s"] + r["exec_s"] for r in records),
            "clock_s": end - start - check_s,
            "check_s": check_s,
            "trace_s": sum(r.get("trace_s", 0.0) for r in records),
            "ops": records,
        }

    def _run_op(self, op: workloads.Op, traced: bool, pass_span) -> dict:
        """Plan and execute one operation inside its timed window; then,
        outside it, record its layers (traced) and check its output."""
        group = f"perfbench-{self.passes}-{op.name}"
        self.sc.setJobGroup(group, op.name, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
        timer.daemon = True
        gc0 = layers.gc_millis(self.spark) if traced else 0
        self.attempted += 1
        handle = out = error = None
        t1 = t2 = None
        t0 = time.perf_counter()
        timer.start()
        try:
            handle = op.plan()
            t1 = time.perf_counter()
            out = op.execute(handle)
            t2 = time.perf_counter()
        except Exception as e:  # a failed operation is counted, not fatal
            error = f"{type(e).__name__}: {e}"[:500]
        finally:
            timer.cancel()
        t1 = t1 or time.perf_counter()
        t2 = t2 or time.perf_counter()
        rec: dict = {"op": op.name, "query": op.is_query, "plan_s": t1 - t0, "exec_s": t2 - t1}
        if error is None and op.layers is not None:
            rec.update(op.layers(handle, out))
        if traced:
            r0 = time.perf_counter()
            rec["gc_ms"] = layers.gc_millis(self.spark) - gc0
            rec["counters"] = self._trace_op(op, rec, group, pass_span, t0, t1, t2)
            rec["trace_s"] = time.perf_counter() - r0
        c0 = time.perf_counter()
        if error is None and op.check is not None:
            self.sc.setJobGroup(f"perfbench-check-{self.passes}", "output check")
            try:
                if not op.check(handle, out):
                    error = "output does not match its recorded digest"
            except Exception as e:
                error = f"check raised {type(e).__name__}: {e}"[:500]
            if traced:
                r0 = time.perf_counter()
                self.harvester.harvest()  # the check's own executions, not the op's
                rec["trace_s"] += time.perf_counter() - r0
        rec["check_s"] = time.perf_counter() - c0
        rec["ok"] = error is None
        if error is not None:
            self.failures.append({"pass": self.passes, "op": op.name, "error": error})
        return rec

    def _trace_op(self, op, rec: dict, group: str, pass_span, t0, t1, t2) -> dict:
        tr = self.tracer
        op_span = tr.add(op.name, "op", t0, t2, pass_span)
        plan_span = tr.add("plan", "plan", t0, t1, op_span)
        exec_span = tr.add("execute", "execute", t1, t2, op_span)
        inner = []
        for name, (s, e) in rec.get("stage_windows", {}).items():
            inner.append(tr.add(name, "dag_stage", s, e, exec_span))
        for i, b in enumerate(rec.get("batches", [])):
            s = tr.from_epoch_ms(b["start_ms"])
            span = tr.add_inside(f"batch {i}", "micro_batch", s, s + b["trigger_ms"] / 1000, [exec_span])
            if span is not None:
                inner.append(span)
        counters: Counter = Counter()
        execs = self.harvester.harvest()
        by_id: dict[int, spans.Span] = {}
        for e in execs:  # ascending ids: a nested execution follows its root
            counters.update(e["counters"])
            if e["end_ms"] is None:
                tr.unattached += 1
                continue
            root = [by_id[e["root"]]] if e["root"] in by_id else []
            span = tr.add_inside(
                e["description"], "sql", tr.from_epoch_ms(e["start_ms"]), tr.from_epoch_ms(e["end_ms"]),
                root + inner + [plan_span, exec_span],
            )
            if span is not None:
                by_id[e["id"]] = span
        counters["operators.sql_executions"] = len(execs)
        counters.update(layers.job_counts(self.spark, group))
        counters.update(layers.pinned_rdds(self.spark))
        counters.update(rec.pop("counters", {}))
        return dict(counters)


def _op(p: dict, name: str) -> dict:
    return next(r for r in p["ops"] if r["op"] == name)


def ingest_summary(timed: list[dict]) -> dict:
    """Pipeline time, drain rate and micro-batch times over the timed passes."""
    stream = [_op(p, "fraud_stream") for p in timed]
    batch_ms = [b["trigger_ms"] for r in stream for b in r.get("batches", [])]
    stages = [dict(_op(p, "medallion_dag").get("stages", [])) for p in timed]
    return {
        "pipeline_s": _median([_op(p, "medallion_dag")["exec_s"] for p in timed]),
        "events_per_s": _median([
            sum(b["input_rows"] for b in r.get("batches", [])) / (r["plan_s"] + r["exec_s"]) for r in stream
        ]),
        "batch_ms_p50": _pct(batch_ms, 0.5),
        "batch_ms_p80": _pct(batch_ms, 0.8),
        "batch_samples": len(batch_ms),
        "stage_s": {name: _median([s[name] for s in stages]) for name in stages[0]},
    }


def per_layer(bench: Bench, traced: dict, session_start: float) -> tuple[dict, dict]:
    """The printed per-layer metrics, and per-operation detail for the file."""
    ops = traced["ops"]
    total: Counter = Counter()
    for r in ops:
        for k, v in r.get("counters", {}).items():
            if r["query"] or not k.startswith(QUERY_ONLY):
                total[k] += v
    queries = [r for r in ops if r["query"]]
    batches = [b for r in ops for b in r.get("batches", [])]
    stream = next((r for r in ops if r["op"] == "fraud_stream"), None)
    tr = bench.tracer
    selfs = tr.self_times()
    pass_len = sum(s.end - s.start for s in tr.spans if s.kind == "pass")
    values = {
        "session.start_s": session_start,
        "session.gc_ms": sum(r.get("gc_ms", 0) for r in ops),
        "queries.ops": len(queries),
        "queries.plan_s": sum(r["plan_s"] for r in queries),
        "queries.exec_s": sum(r["exec_s"] for r in queries),
        "sources.write_amp": (
            total["sources.bytes_written"] / total["bronze_bytes"] if total["bronze_bytes"] else 0.0
        ),
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.state_rows": batches[-1]["state_rows"] if batches else 0,
        "streaming.state_memory_bytes": batches[-1]["state_memory_bytes"] if batches else 0,
        "streaming.events_per_s": (
            sum(b["input_rows"] for b in batches) / (stream["plan_s"] + stream["exec_s"]) if stream else 0.0
        ),
        "trace.wall_s": traced["wall_s"],
        "trace.overhead_s": traced["trace_s"],
        "trace.spans": len(tr.spans),
        "trace.evicted_executions": bench.harvester.evicted,
        "trace.unattached_events": tr.unattached,
        **{f"self.{k}_pct": 100.0 * selfs.get(k, 0.0) / pass_len for k in SELF_KINDS},
    }
    metrics = {k: float(values[k] if k in values else total.get(k, 0.0)) for k in PER_LAYER}
    detail = {
        "ops": {
            r["op"]: {"plan_s": r["plan_s"], "exec_s": r["exec_s"], "gc_ms": r.get("gc_ms"),
                      "counters": r.get("counters", {})}
            for r in ops
        },
        "self_time_s": selfs,
        "clamped_spans": tr.clamped,
        "misnested_spans": len(tr.misnested()),
    }
    for k in ("operators.shuffle_fetch_wait_ms", "operators.broadcast_build_ms"):
        detail[k] = total.get(k, 0.0)
    if batches:
        detail["streaming"] = {
            f"{k}_p50": _pct([b[k] for b in batches], 0.5)
            for k in ("add_batch_ms", "query_planning_ms", "state_commit_ms")
        }
        detail["streaming"]["trigger_overhead_ms_p50"] = _pct(
            [b["trigger_ms"] - b["add_batch_ms"] for b in batches], 0.5
        )
    return metrics, detail


def _pass_summary(p: dict) -> dict:
    return {"wall_s": p["wall_s"], "ops": {r["op"]: [r["plan_s"], r["exec_s"]] for r in p["ops"]}}


def run(args, work: Path, out_dir: Path) -> int:
    from pyspark import __version__ as spark_version

    from telecom_dataengineering_pipeline_spark.benchlib import noise_probe

    contract = host.contract(workloads.ROOT, args.sf, args.seed, spark_version)
    contract["noise_start"] = noise_probe()
    t0 = time.perf_counter()
    spark = workloads.start_session()
    session_start = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        bench = Bench(spark, args, work)
        if bench.ingest is not None:
            bench.ingest.stage()
        setup_s = time.perf_counter() - t0
        timed: list[dict] = []
        ticks = host.cpu_ticks()
        with layers.RssSampler(jvm_pid) as rss:
            while not timed or (not args.trace and sum(p["clock_s"] for p in timed) < args.seconds):
                timed.append(bench.run_pass(bench.ops(), traced=bool(args.trace)))
        contract["steal_share"] = host.steal_share(ticks, host.cpu_ticks())
    finally:
        workloads.stop_session(spark)
    contract["noise_end"] = noise_probe()

    first = timed[0]
    end_to_end = {
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
        "wall_s": {"value": first["wall_s"], "unit": "s", "samples": 1},
        "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB", "samples": len(timed)},
    }
    failed = len(bench.failures)
    result = {
        "workload": args.workload,
        "traced": bool(args.trace),
        "host": contract,
        "run_seconds": args.seconds,
        "end_to_end": end_to_end,
        "attempted": bench.attempted,
        "failed": failed,
        "fail_share": failed / bench.attempted,
        "ops_total": bench.attempted,
        "failures": bench.failures,
        "setup": {"session_start_s": session_start, "staging_s": setup_s - session_start},
        "timed_passes": [_pass_summary(p) for p in timed],
    }
    if bench.ingest is not None:
        result["ingest"] = ingest_summary([first])
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    out_dir.mkdir(parents=True, exist_ok=True)
    if args.trace:
        metrics, detail = per_layer(bench, first, session_start)
        result["per_layer"] = metrics
        result["layers_detail"] = detail
        result["spans_file"] = f"{stem}-spans.json"
        (out_dir / result["spans_file"]).write_text(json.dumps(bench.tracer.to_json()))
        printed = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
    else:
        printed = {k: {"value": end_to_end[k]["value"], "unit": end_to_end[k]["unit"]} for k in END_TO_END}
    (out_dir / f"{stem}.json").write_text(json.dumps(result, indent=1, default=str))

    for k, v in end_to_end.items():
        print(f"{args.workload:>10} {k:<14} {v['value']:12.4f} {v['unit']:<5} (n={v['samples']})")
    for k, v in result.get("ingest", {}).items():
        if not isinstance(v, dict):
            print(f"{args.workload:>10} {k:<14} {v:12.4f}")
    if contract["steal_share"] is not None:
        print(f"{args.workload:>10} {'steal_share':<14} {contract['steal_share']:12.4f}")
    for f in bench.failures:
        print(f"FAILED pass {f['pass']} {f['op']}: {f['error']}")
    print(f"result: {out_dir / (stem + '.json')}")
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": printed}))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"))
    ap.add_argument("--out", type=Path, default=workloads.ROOT / ".perfbench" / "results")
    args = ap.parse_args(argv)
    args.out = args.out.resolve()
    if not (workloads.ROOT / workloads.ENGINE).is_dir():
        print(f"engine package {workloads.ENGINE} not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(workloads.ROOT))
    work = workloads.ROOT / ".perfbench" / "work" / str(os.getpid())
    workloads.prepare_environment(work, host.cpus())
    try:
        return run(args, work, args.out)
    finally:
        os.chdir(workloads.ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
