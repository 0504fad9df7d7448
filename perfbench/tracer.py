"""Spans and Spark counters for the traced run.

Every traced op runs under its own Spark job group. After the op's sink
returns, the tracer drains the listener bus and reads the group's jobs and
stages back from the application status store, the same store the Spark UI
reads. Each job becomes a child span of the op phase (build, exec, or the
sources write inside exec) that was running when the job was submitted.
Spans stay in memory until :meth:`Tracer.write` is called.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1e6

# per-op counters summed into each layer (per traced pass)
SUMMED = (
    "build_s",
    "exec_s",
    "driver_gap_s",
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "task_offcpu_s",
    "gc_s",
    "failed_tasks",
)
# per-layer metric names and units, in output order
LAYER_METRICS = (
    ("build_s", "s"),
    ("exec_s", "s"),
    ("driver_gap_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("core_busy_share", "ratio"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("fetch_wait_s", "s"),
    ("spill_mb", "MB"),
    ("task_offcpu_s", "s"),
    ("gc_s", "s"),
    ("failed_tasks", "count"),
    ("storage_blocks_held", "count"),
)
OP_LAYERS = (
    "operators.dedup",
    "operators.text",
    "operators.multimodal",
    "operators.training",
    "operators.features",
    "operators.grouped",
    "operators.scale",
)
OTHER_METRICS = (
    ("session.get_spark_s", "s"),
    ("data.ratings_ingest_s", "s"),
    ("data.ratings_ingest_mb", "MB"),
    ("sources.write_s", "s"),
    ("sources.bytes_written_mb", "MB"),
    ("trace.overhead_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run reports, with its unit."""
    out = [(f"{layer}.{m}", unit) for layer in OP_LAYERS for m, unit in LAYER_METRICS]
    return out + list(OTHER_METRICS)


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    end: float
    parent: str | None = None
    self_s: float = 0.0


@dataclass
class JobTotals:
    """Counters of the Spark jobs one job group ran, split by the phase
    (span name) each job was submitted in."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    # task run time and output bytes of the jobs submitted per phase
    task_s_by_phase: dict[str, float] = field(default_factory=dict)
    output_mb_by_phase: dict[str, float] = field(default_factory=dict)
    # (start, end) of every job per phase, epoch seconds
    intervals_by_phase: dict[str, list[tuple[float, float]]] = field(default_factory=dict)


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the union of intervals covers."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = cores
        self.spans: list[Span] = []
        self.ops: list[dict] = []

    @contextmanager
    def group(self, op_id: str):
        """Tag every Spark job started inside with the job group ``op_id``."""
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()

    def add(
        self, name: str, op_id: str, start: float, end: float, parent: str | None = None
    ) -> Span:
        span = Span(name, op_id, start, end, parent)
        self.spans.append(span)
        return span

    def job_totals(self, op_id: str, phases: list[Span]) -> JobTotals:
        """Read the group's jobs and stages once the listener bus is idle.
        Each job is attributed to the innermost phase span that contains its
        submission time and becomes a child span of it."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        t = JobTotals()
        for jid in tracker.getJobIdsForGroup(op_id):
            job = store.job(jid)
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is None or done is None:
                continue
            t.jobs += 1
            inside = [p for p in phases if p.start <= sub <= p.end]
            # reversed: on a tie the nested span (sources.write_parquet) wins
            phase = min(reversed(inside), key=lambda p: p.end - p.start) if inside else phases[-1]
            self.add(f"spark.job.{jid}", op_id, sub, done, phase.name)
            t.intervals_by_phase.setdefault(phase.name, []).append((sub, done))
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt: the stage was skipped
                    continue
                # a stage this job reuses (shuffle reuse) reports the attempt
                # of the earlier job that ran it; count it only there
                started = _ms(s.submissionTime())
                if started is None or started < sub:
                    continue
                t.stages += 1
                t.tasks += s.numCompleteTasks() + s.numFailedTasks()
                t.failed_tasks += s.numFailedTasks()
                run_s = s.executorRunTime() / 1e3
                t.task_s += run_s
                t.cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.shuffle_read_mb += s.shuffleReadBytes() / MB
                t.shuffle_write_mb += s.shuffleWriteBytes() / MB
                t.fetch_wait_s += s.shuffleFetchWaitTime() / 1e3
                t.spill_mb += s.diskBytesSpilled() / MB
                out = s.outputBytes() / MB
                t.output_mb += out
                t.task_s_by_phase[phase.name] = t.task_s_by_phase.get(phase.name, 0.0) + run_s
                t.output_mb_by_phase[phase.name] = t.output_mb_by_phase.get(phase.name, 0.0) + out
        return t

    def storage_blocks_held(self) -> int:
        """RDD storage blocks currently held (cached or checkpointed)."""
        return sum(int(i.numCachedPartitions()) for i in self._jsc.getRDDStorageInfo())

    def record_op(
        self, layer: str, query: str, op_id: str, t0: float, t1: float, t2: float, write: bool
    ) -> dict:
        """Turn one op's phase boundaries and job group into spans and a
        counter record. ``t0..t1`` is the query call, ``t1..t2`` the sink."""
        build = Span(f"{layer}.{query}.build", op_id, t0, t1)
        exec_ = Span(f"{layer}.{query}.exec", op_id, t1, t2)
        phases = [build, exec_]
        if write:
            phases.append(Span("sources.write_parquet", op_id, t1, t2, exec_.name))
        self.spans.extend(phases)
        jt = self.job_totals(op_id, phases)
        exec_jobs = [iv for p in phases[1:] for iv in jt.intervals_by_phase.get(p.name, [])]
        exec_task_s = sum(jt.task_s_by_phase.get(p.name, 0.0) for p in phases[1:])
        rec = {
            "layer": layer,
            "query": query,
            "op_id": op_id,
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "driver_gap_s": (t2 - t1) - _covered(t1, t2, exec_jobs),
            "exec_task_s": exec_task_s,
            "jobs": jt.jobs,
            "stages": jt.stages,
            "tasks": jt.tasks,
            "shuffle_read_mb": jt.shuffle_read_mb,
            "shuffle_write_mb": jt.shuffle_write_mb,
            "fetch_wait_s": jt.fetch_wait_s,
            "spill_mb": jt.spill_mb,
            "task_offcpu_s": max(jt.task_s - jt.cpu_s, 0.0),
            "gc_s": jt.gc_s,
            "failed_tasks": jt.failed_tasks,
            "write_s": (t2 - t1) if write else 0.0,
            "written_mb": sum(jt.output_mb_by_phase.get(p.name, 0.0) for p in phases[1:])
            if write
            else 0.0,
            "storage_blocks_held": self.storage_blocks_held(),
        }
        self.ops.append(rec)
        return rec

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-layer metrics: counters summed over each layer's ops and
        divided by the number of traced passes; ``core_busy_share`` is the
        exec-phase task time over exec wall time times cores, and
        ``storage_blocks_held`` the most held after any of the layer's ops."""
        out: dict[str, float] = {}
        for layer in OP_LAYERS:
            recs = [r for r in self.ops if r["layer"] == layer]
            for m in SUMMED:
                out[f"{layer}.{m}"] = sum(r[m] for r in recs) / passes
            exec_s = sum(r["exec_s"] for r in recs)
            busy = sum(r["exec_task_s"] for r in recs)
            out[f"{layer}.core_busy_share"] = busy / (exec_s * self.cores) if exec_s else 0.0
            out[f"{layer}.storage_blocks_held"] = max(
                (r["storage_blocks_held"] for r in recs), default=0
            )
        out["sources.write_s"] = sum(r["write_s"] for r in self.ops) / passes
        out["sources.bytes_written_mb"] = sum(r["written_mb"] for r in self.ops) / passes
        return out

    def _fill_self_times(self) -> None:
        """Self time: a span's duration minus what its child spans cover."""
        children: dict[tuple[str, str], list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault((s.op_id, s.parent), []).append((s.start, s.end))
        for s in self.spans:
            kids = children.get((s.op_id, s.name), [])
            s.self_s = (s.end - s.start) - _covered(s.start, s.end, kids)

    def write(self, path: str, extra: dict) -> None:
        """Write every span, with its self time, and every op record as one
        JSON document."""
        self._fill_self_times()
        doc = dict(extra, spans=[asdict(s) for s in self.spans], ops=self.ops)
        with open(path, "w") as f:
            json.dump(doc, f)

    def self_time_summary(self) -> dict[str, float]:
        """Total self time per span kind: job ids and query names dropped,
        so ``operators.dedup.dedup_exact.build`` counts as
        ``operators.dedup.build``."""
        self._fill_self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            parts = s.name.split(".")
            if parts[:2] == ["spark", "job"]:
                kind = "spark.job"
            elif len(parts) == 4:
                kind = ".".join(parts[:2] + parts[3:])
            else:
                kind = s.name
            out[kind] = out.get(kind, 0.0) + s.self_s
        return out
