"""Benchmark-side tracing: spans around the benchmark's calls into the
engine, and a job ledger read back from Spark's status store.

Each span sets its own Spark job group, so every job the engine launches
inside it carries the span's id. After the workload the ledger is read
from ``SparkContext.statusStore()`` (reachable with the UI disabled) and
each job, with its stages and task metrics, is attributed to the
innermost span that launched it. Spans live in memory until the run
ends. The engine itself is not instrumented.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The engine modules the benchmark calls, in the order they are reported.
LAYERS = (
    "session",
    "api",
    "operators.knn",
    "operators.hnsw_partition",
    "operators.similarity",
    "operators.dedup",
    "operators.bpe",
    "operators.corpus",
    "sources.token_shards",
)
LAYER_METRICS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("job_busy_s", "s"),
    ("driver_gap_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("result_bytes", "bytes"),
    ("failed_tasks", "count"),
)
BENCH = "bench"  # the benchmark's own code: input conversion, request roots
_IDLE_GROUP = "perfbench-idle"


# -- interval arithmetic -----------------------------------------------------
def merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def union_length(intervals) -> float:
    return sum(e - s for s, e in merge(intervals))


def subtract(intervals, cut) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that no interval of ``cut`` covers."""
    cut = merge(cut)
    out = []
    for s, e in merge(intervals):
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
        if cur < e:
            out.append((cur, e))
    return out


# -- spans -------------------------------------------------------------------
@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stage_ids: tuple[int, ...]


@dataclass
class Stage:
    stage_id: int
    attempt: int
    status: str
    shuffle_write_bytes: int
    shuffle_write_records: int
    spill_bytes: int
    result_bytes: int
    failed_tasks: int


def _group(sid: int) -> str:
    return f"perfbench-{sid}"


class Tracer:
    """Records spans when built with a SparkContext; with ``sc=None`` every
    method is a no-op, which is how untraced runs call the same code."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str, request: int | None = None):
        if self.sc is None:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(len(self.spans), layer, name, parent.sid if parent else None, request, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(_group(sp.sid), f"{layer}:{name}")
        sp.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            back = _group(parent.sid) if parent is not None else _IDLE_GROUP
            self.sc.setJobGroup(back, "")
            self.overhead_s += time.perf_counter() - t1

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """Add a span timed by the caller, for work that runs before the
        SparkContext exists (session start)."""
        if self.sc is not None:
            self.spans.append(Span(len(self.spans), layer, name, None, None, start, end))

    def count(self, key: str, value: float) -> None:
        """Add to a counter measured at a layer boundary."""
        if self.sc is not None:
            self.counts[key] = self.counts.get(key, 0) + value

    def gauge_max(self, key: str, value: float) -> None:
        if self.sc is not None:
            self.counts[key] = max(self.counts.get(key, value), value)


# -- ledger --------------------------------------------------------------------
def _opt(o):
    return o.get() if o.isDefined() else None


def read_ledger(sc) -> tuple[list[Job], list[Stage]]:
    """Every job and stage attempt the status store holds, after draining
    the listener bus so the last jobs are in it."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    as_list = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = []
    for j in as_list(store.jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        ids = j.stageIds().mkString(",")
        jobs.append(
            Job(
                int(j.jobId()),
                _opt(j.jobGroup()),
                sub.getTime() / 1000.0,
                done.getTime() / 1000.0,
                tuple(int(x) for x in ids.split(",")) if ids else (),
            )
        )
    stages = [
        Stage(
            int(s.stageId()),
            int(s.attemptId()),
            str(s.status().toString()),
            int(s.shuffleWriteBytes()),
            int(s.shuffleWriteRecords()),
            int(s.diskBytesSpilled()),
            int(s.resultSize()),
            int(s.numFailedTasks()),
        )
        for s in as_list(
            store.stageList(
                None, False, False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            )
        )
    ]
    return jobs, stages


# -- attribution -----------------------------------------------------------------
@dataclass
class LayerStats:
    calls: int = 0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    job_busy_s: float = 0.0
    driver_gap_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    failed_tasks: int = 0
    shuffle_write_records: int = 0
    job_intervals: list = field(default_factory=list, repr=False)


def self_intervals(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The span's interval minus the part its child spans cover."""
    return subtract([(span.start, span.end)], [(c.start, c.end) for c in children])


def attribute(spans: list[Span], jobs: list[Job], stages: list[Stage]) -> dict[str, LayerStats]:
    """Per-layer totals. A job belongs to the span whose group it carries;
    a stage belongs to the first job that lists it (later jobs list it as
    skipped). Driver gap is self time that no job of the span covers."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    by_group = {_group(sp.sid): sp for sp in spans}
    span_jobs: dict[int, list[Job]] = {}
    for j in jobs:
        sp = by_group.get(j.group)
        if sp is not None:
            span_jobs.setdefault(sp.sid, []).append(j)
    stage_owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        for s in j.stage_ids:
            stage_owner.setdefault(s, j.job_id)
    job_span = {j.job_id: by_group[j.group] for j in jobs if j.group in by_group}

    out = {layer: LayerStats() for layer in LAYERS}
    for sp in spans:
        st = out.setdefault(sp.layer, LayerStats())
        own = self_intervals(sp, children.get(sp.sid, []))
        mine = [(j.start, j.end) for j in span_jobs.get(sp.sid, [])]
        st.calls += 1
        st.self_s += union_length(own)
        st.jobs += len(mine)
        st.job_intervals.extend(mine)
        st.driver_gap_s += union_length(subtract(own, mine))
    for st in out.values():
        st.job_busy_s = union_length(st.job_intervals)
    for s in stages:
        owner = stage_owner.get(s.stage_id)
        sp = job_span.get(owner) if owner is not None else None
        if sp is None or s.status == "SKIPPED":
            continue
        st = out[sp.layer]
        st.stages += 1
        st.shuffle_write_bytes += s.shuffle_write_bytes
        st.shuffle_write_records += s.shuffle_write_records
        st.spill_bytes += s.spill_bytes
        st.result_bytes += s.result_bytes
        st.failed_tasks += s.failed_tasks
    return out


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = [(f"{layer}.{key}", unit) for layer in LAYERS for key, unit in LAYER_METRICS]
    return names + [
        ("operators.knn.shortlist_rows_per_hit", "ratio"),
        ("operators.hnsw_partition.index_bytes_per_vector_byte", "ratio"),
        ("api.log_files_max", "count"),
        ("sources.token_shards.bytes_per_token", "bytes"),
        ("tracing.overhead_s", "s"),
        ("tracing.overhead_frac", "ratio"),
    ]


def layer_metrics(tracer: Tracer, stats: dict[str, LayerStats], loop_s: float) -> dict:
    """The traced run's per-layer metrics, {name: {"value", "unit"}}."""
    c = tracer.counts
    values = {
        f"{layer}.{key}": getattr(stats[layer], key)
        for layer in LAYERS
        for key, _ in LAYER_METRICS
    }
    values.update({
        "operators.knn.shortlist_rows_per_hit": _ratio(
            stats["operators.knn"].shuffle_write_records, c.get("knn.hits", 0)
        ),
        "operators.hnsw_partition.index_bytes_per_vector_byte": _ratio(
            c.get("hnsw.index_bytes", 0), c.get("hnsw.vector_bytes", 0)
        ),
        "api.log_files_max": c.get("api.log_files_max", 0),
        "sources.token_shards.bytes_per_token": _ratio(
            c.get("shards.bytes", 0), c.get("shards.tokens", 0)
        ),
        "tracing.overhead_s": tracer.overhead_s,
        "tracing.overhead_frac": _ratio(tracer.overhead_s, loop_s),
    })
    return {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}
