"""Layer spans for the traced run.

A ``Tracer`` wraps public functions of the program by name (class
attributes and module-level names, patched where they are looked up) so
each call runs inside a span. A span records wall time, self time (its
duration minus the time covered by its child spans) and a call count per
layer, and sets the Spark job group to the layer for its duration, so the
Spark work a call launches can be attributed to that layer afterwards from
the JVM status store. The caller's job group is restored on exit.

Spans live in memory; ``Tracer.metrics`` flattens them at the end.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

GROUP_PREFIX = "perfbench:"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")

# Per-stage fields summed per layer, as (metric suffix, StageData accessor).
STAGE_FIELDS = (
    ("executor_cpu_ms", lambda s: s.executorCpuTime() / 1e6),
    ("input_bytes", lambda s: s.inputBytes()),
    ("shuffle_read_bytes", lambda s: s.shuffleReadBytes()),
    ("shuffle_write_bytes", lambda s: s.shuffleWriteBytes()),
    ("output_bytes", lambda s: s.outputBytes()),
    ("spill_bytes", lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled()),
    ("failed_tasks", lambda s: s.numFailedTasks()),
)


@dataclass
class LayerStats:
    wall_s: float = 0.0
    self_s: float = 0.0
    calls: int = 0
    jobs: int = 0
    stage: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class _Frame:
    layer: str
    start: float
    child_s: float = 0.0


class JobGroups:
    """Get/set the Spark job group of the calling thread."""

    def __init__(self, sc):
        self.sc = sc

    def enter(self, group: str, description: str) -> tuple:
        prev = tuple(self.sc.getLocalProperty(k) for k in _GROUP_KEYS)
        self.sc.setJobGroup(group, description)
        return prev

    def restore(self, prev: tuple) -> None:
        for key, value in zip(_GROUP_KEYS, prev):
            self.sc.setLocalProperty(key, value)


class StageReader:
    """Sums per-stage metrics of finished jobs in a job group from the JVM
    status store (works with the Spark UI disabled). Each job and each
    stage attempt is counted once across calls: a stage that a later job
    reuses (skipped there) is not counted again."""

    def __init__(self):
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()

    def read(self, sc, groups: list[str]) -> dict[str, tuple[int, dict]]:
        """Per group: (jobs, summed stage fields) of jobs not read before."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jvm = sc._gateway.jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        no_tasks = jvm.java.util.ArrayList()
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        out = {}
        for group in groups:
            jobs = 0
            sums: dict[str, float] = defaultdict(float)
            for job_id in tracker.getJobIdsForGroup(group):
                if job_id in self._seen_jobs:
                    continue
                info = tracker.getJobInfo(job_id)
                if info is None or info.status == "RUNNING":
                    continue
                self._seen_jobs.add(job_id)
                jobs += 1
                for stage_id in info.stageIds:
                    for attempt in as_java(store.stageData(
                            stage_id, False, no_tasks, False, no_quantiles)):
                        key = (stage_id, attempt.attemptId())
                        if key in self._seen_stages:
                            continue
                        self._seen_stages.add(key)
                        for name, get in STAGE_FIELDS:
                            sums[name] += get(attempt)
            out[group] = (jobs, sums)
        return out


class Tracer:
    def __init__(self, groups: JobGroups | None = None,
                 clock: Callable[[], float] = time.perf_counter):
        self.groups = groups
        self.clock = clock
        self.layers: dict[str, LayerStats] = defaultdict(LayerStats)
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[_Frame] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.stage_reader = StageReader()

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, layer: str) -> Iterator[None]:
        prev = (self.groups.enter(GROUP_PREFIX + layer, layer)
                if self.groups else None)
        frame = _Frame(layer, self.clock())
        self._stack.append(frame)
        try:
            yield
        finally:
            dur = self.clock() - frame.start
            self._stack.pop()
            st = self.layers[layer]
            st.calls += 1
            st.self_s += dur - frame.child_s
            # a layer re-entered inside itself adds its wall time once
            if all(f.layer != layer for f in self._stack):
                st.wall_s += dur
            if self._stack:
                self._stack[-1].child_s += dur
            if self.groups:
                self.groups.restore(prev)

    def wrap(self, fn: Callable, layer: str) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", "traced")
        return traced

    # ---------------------------------------------------------- patching
    def patch(self, owner: Any, name: str, layer: str) -> None:
        """Run ``owner.name`` (a class or module attribute) inside a
        ``layer`` span until ``unpatch_all``."""
        self._replace(owner, name, lambda fn: self.wrap(fn, layer))

    def observe(self, owner: Any, name: str,
                before: Callable | None = None,
                after: Callable | None = None) -> None:
        """Call ``before(*args, **kwargs)`` ahead of ``owner.name`` and
        ``after(result)`` (``after(token, result)`` with the token
        ``before`` returned) behind it, until ``unpatch_all``."""

        def hooked(fn):
            def observed(*args, **kwargs):
                token = before(*args, **kwargs) if before else None
                result = fn(*args, **kwargs)
                if after:
                    after(token, result) if before else after(result)
                return result

            return observed

        self._replace(owner, name, hooked)

    def _replace(self, owner: Any, name: str, make: Callable) -> None:
        original = (owner.__dict__[name] if isinstance(owner, type)
                    else getattr(owner, name))
        self._patches.append((owner, name, original))
        if isinstance(original, staticmethod):
            setattr(owner, name, staticmethod(make(original.__func__)))
        else:
            setattr(owner, name, make(original))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, name, original = self._patches.pop()
            setattr(owner, name, original)

    # ------------------------------------------------- stage attribution
    def collect_stage_metrics(self, sc) -> None:
        """Attribute the stages of every job launched under a layer's job
        group since the last call to that layer. Call when no span is
        open."""
        layers = list(self.layers)
        read = self.stage_reader.read(sc, [GROUP_PREFIX + x for x in layers])
        for layer in layers:
            jobs, sums = read[GROUP_PREFIX + layer]
            st = self.layers[layer]
            st.jobs += jobs
            for name, value in sums.items():
                st.stage[name] += value

    def reset(self) -> None:
        self.layers.clear()
        self.counters.clear()

    # ----------------------------------------------------------- output
    def metrics(self, job_layers: set[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer, st in self.layers.items():
            out[f"{layer}.wall_s"] = st.wall_s
            out[f"{layer}.self_s"] = st.self_s
            out[f"{layer}.calls"] = st.calls
            if layer in job_layers:
                out[f"{layer}.jobs"] = st.jobs
                for name, _ in STAGE_FIELDS:
                    out[f"{layer}.{name}"] = st.stage.get(name, 0.0)
        return out
