"""Pipeline DAG + table-level lineage + managed execution.

The reference orchestrates with Airflow (cdr_pipeline_dag.py:226-228:
freshness gate → ingest → silver → gold → tests → publish) and keeps a static
lineage graph with upstream/impact traversal
(pipeline_observability.py:282-321). Here both are one small engine-side
structure: stages declare their input/output tables, the DAG topologically
orders them, and lineage queries walk the declared edges.

``run_managed`` adds the Airflow-grade task semantics the reference DAG
configures (cdr_pipeline_dag.py:48,117: ``retries=2`` with exponential
backoff; a 4 h SLA): per-stage retry with backoff, SLA-miss detection
measured from pipeline start (Airflow's task-SLA model — a miss fires the
callback and is recorded, it does not abort the run), and
downstream-of-failure skipping (a failed stage fails only its dependents;
independent branches keep running).

This is deliberately driver-side Python (a handful of table names), not a
Spark job — lineage is metadata, not data.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter


@dataclass
class RetryPolicy:
    """Airflow-style task retries: ``retries`` re-attempts after the first
    failure, sleeping ``backoff_seconds * 2**attempt`` (capped) between
    attempts when ``exponential`` — the reference DAG's
    ``retry_exponential_backoff=True`` shape."""

    retries: int = 2
    backoff_seconds: float = 1.0
    exponential: bool = True
    max_backoff_seconds: float = 300.0

    def delay(self, attempt: int) -> float:
        if not self.exponential:
            return self.backoff_seconds
        return min(self.backoff_seconds * (2**attempt), self.max_backoff_seconds)


@dataclass
class StageResult:
    name: str
    state: str  # success | failed | upstream_failed
    attempts: int = 0
    duration: float = 0.0
    sla_missed: bool = False
    error: str | None = None


@dataclass
class PipelineRun:
    """Outcome of one managed execution: per-stage results in run order."""

    results: list[StageResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(r.state == "success" for r in self.results)

    @property
    def failed(self) -> list[str]:
        return [r.name for r in self.results if r.state != "success"]

    @property
    def sla_misses(self) -> list[str]:
        return [r.name for r in self.results if r.sla_missed]


@dataclass
class Stage:
    name: str
    inputs: Sequence[str]
    outputs: Sequence[str]
    run: Callable[[], None]
    kind: str = "transform"  # ingest | transform | quality_gate | publish
    # Managed-execution knobs (used by PipelineDAG.run_managed):
    retry: RetryPolicy | None = None  # None → the run's default policy
    sla_seconds: float | None = None  # deadline from PIPELINE start (Airflow SLA)


@dataclass
class PipelineDAG:
    stages: list[Stage] = field(default_factory=list)

    def add(self, stage: Stage) -> "PipelineDAG":
        self.stages.append(stage)
        return self

    # -- lineage ---------------------------------------------------------
    def _producers(self) -> Mapping[str, str]:
        return {t: s.name for s in self.stages for t in s.outputs}

    def edges(self) -> list[tuple[str, str]]:
        """(upstream_table, downstream_table) pairs via stage declarations."""
        out = []
        for s in self.stages:
            for i in s.inputs:
                for o in s.outputs:
                    out.append((i, o))
        return out

    def upstream(self, table: str) -> set[str]:
        """All transitive inputs feeding ``table``."""
        rev: dict[str, set[str]] = {}
        for u, d in self.edges():
            rev.setdefault(d, set()).add(u)
        seen: set[str] = set()
        frontier = [table]
        while frontier:
            t = frontier.pop()
            for u in rev.get(t, ()):
                if u not in seen:
                    seen.add(u)
                    frontier.append(u)
        return seen

    def impact(self, table: str) -> set[str]:
        """All transitive outputs downstream of ``table`` (blast radius)."""
        fwd: dict[str, set[str]] = {}
        for u, d in self.edges():
            fwd.setdefault(u, set()).add(d)
        seen: set[str] = set()
        frontier = [table]
        while frontier:
            t = frontier.pop()
            for d in fwd.get(t, ()):
                if d not in seen:
                    seen.add(d)
                    frontier.append(d)
        return seen

    # -- execution -------------------------------------------------------
    def topological_order(self) -> list[Stage]:
        producers = self._producers()
        ts: TopologicalSorter = TopologicalSorter()
        by_name = {s.name: s for s in self.stages}
        for s in self.stages:
            deps = {producers[i] for i in s.inputs if i in producers and producers[i] != s.name}
            ts.add(s.name, *deps)
        return [by_name[n] for n in ts.static_order()]

    def _stage_deps(self) -> dict[str, set[str]]:
        producers = self._producers()
        return {
            s.name: {
                producers[i]
                for i in s.inputs
                if i in producers and producers[i] != s.name
            }
            for s in self.stages
        }

    def run_managed(
        self,
        default_retry: RetryPolicy | None = None,
        on_sla_miss: Callable[[str, float], None] | None = None,
        clock: Callable[[], float] = time.monotonic,
        sleeper: Callable[[float], None] = time.sleep,
    ) -> PipelineRun:
        """Execute with the reference DAG's task semantics:

        - each stage retries per its ``RetryPolicy`` (stage-level override,
          else ``default_retry``, else no retries) with exponential backoff
          between attempts;
        - a stage finishing after its ``sla_seconds`` deadline (measured
          from pipeline start, Airflow's SLA model) is flagged and
          ``on_sla_miss(stage, elapsed)`` fires — the run continues;
        - a stage that exhausts its retries marks every transitive
          dependent ``upstream_failed`` (never attempted); stages on
          independent branches still run (Airflow's trigger-rule default).

        ``clock``/``sleeper`` are injectable so retry/SLA behavior is unit
        testable without wall-clock sleeps."""
        deps = self._stage_deps()
        fallback = default_retry or RetryPolicy(retries=0)
        t_start = clock()
        dead: set[str] = set()  # failed stages + their transitive dependents
        run = PipelineRun()
        for s in self.topological_order():
            if deps[s.name] & dead:
                dead.add(s.name)
                run.results.append(
                    StageResult(name=s.name, state="upstream_failed")
                )
                continue
            policy = s.retry or fallback
            res = StageResult(name=s.name, state="failed")
            t_stage = clock()
            for attempt in range(policy.retries + 1):
                res.attempts = attempt + 1
                try:
                    s.run()
                    res.state = "success"
                    break
                except Exception as e:  # noqa: BLE001 — any stage error retries
                    res.error = f"{type(e).__name__}: {e}"
                    if attempt < policy.retries:
                        sleeper(policy.delay(attempt))
            now = clock()
            res.duration = now - t_stage
            if s.sla_seconds is not None and (now - t_start) > s.sla_seconds:
                res.sla_missed = True
                if on_sla_miss is not None:
                    on_sla_miss(s.name, now - t_start)
            if res.state != "success":
                dead.add(s.name)
            run.results.append(res)
        return run
