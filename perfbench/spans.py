"""Job accounting and the per-layer tracer.

Both read only what Spark already records. The status tracker maps a job
group to its jobs, and the in-JVM status store
(``AppStatusStore.stageData``) gives each stage's tasks, executor time,
shuffle bytes, spill and whether it was skipped. Reading them fires no
Spark job, so accounting runs after a pass, outside its timed window.

The tracer records one span per call into a public function of a layer
module. It wraps those functions from outside the program, in every module
of the package that holds a reference to them, and restores the originals
when it is uninstalled. Each span runs under a job group of its own, so a
job is charged to the innermost span that was open when it fired. The
status tracker accumulates jobs across reuses of one group id, so group
ids are never reused.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

PACKAGE = "yellowrush_spark_ml_pipeline_spark"

# Layers whose public functions fire Spark jobs.
JOB_LAYERS = (
    "sources.readers",
    "sources.writers",
    "flows",
    "ml.pipelines",
    "operators.dedup",
    "operators.textstats",
    "operators.similarity",
)
# Layers that only build lazy plans: their cost is plan-build time.
LAZY_LAYERS = (
    "operators.cleaning",
    "operators.features",
    "operators.joins",
    "operators.aggregates",
)
MB = float(1 << 20)


@dataclass
class JobStats:
    """Totals over a set of Spark jobs."""

    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobStats") -> None:
        for f in fields(self):
            setattr(self, f.name,
                    getattr(self, f.name) + getattr(other, f.name))

    @property
    def skipped_stage_ratio(self) -> float:
        return self.skipped_stages / self.stages if self.stages else 0.0


class JobAccounting:
    """Hands out unique job-group ids and totals the jobs of a group."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._count = 0

    def new_group(self, prefix: str) -> str:
        self._count += 1
        return f"{prefix}-{self._count}"

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc._jsc.setJobGroup(group, group, False)

    def flush(self) -> None:
        """Wait until the status listener has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stats(self, group: str) -> JobStats:
        """Totals for ``group``; call :meth:`flush` first."""
        jvm, gateway = self._sc._jvm, self._sc._gateway
        tracker = self._sc.statusTracker()
        out = JobStats()
        for job_id in tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = tracker.getJobInfo(job_id)
            if info is not None and info.status != "SUCCEEDED":
                out.failed_jobs += 1
            for sid in info.stageIds if info else ():
                attempts = self._store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    gateway.new_array(jvm.double, 0))
                out.stages += 1
                statuses = [attempts.apply(i) for i in range(attempts.size())]
                if all(s.status().toString() == "SKIPPED" for s in statuses):
                    out.skipped_stages += 1
                    continue
                for s in statuses:
                    out.tasks += s.numTasks()
                    out.executor_run_s += s.executorRunTime() / 1e3
                    out.executor_cpu_s += s.executorCpuTime() / 1e9
                    out.shuffle_write_mb += s.shuffleWriteBytes() / MB
                    out.shuffle_read_mb += s.shuffleReadBytes() / MB
                    out.spill_mb += s.diskBytesSpilled() / MB
        return out


@dataclass
class Span:
    layer: str
    name: str
    parent: "Span | None"
    group: str
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class LayerTotals:
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    jobs: JobStats = field(default_factory=JobStats)


class Tracer:
    """Per-layer spans around the package's public functions."""

    def __init__(self, accounting: JobAccounting, root_group: str) -> None:
        self._acct = accounting
        self._root_group = root_group
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # the tracer's own work, inside the pass

    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        group = self._acct.new_group("span")
        self._acct.set_group(group)
        sp = Span(layer, name, parent, group, time.perf_counter())
        self.overhead_s += sp.start - t0
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.duration
            self._acct.set_group(parent.group if parent else self._root_group)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        wrapped: dict[int, tuple[object, object]] = {}
        for layer in JOB_LAYERS + LAZY_LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, fn in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    wrapped[id(fn)] = (fn, self._wrap(layer, fn))
        # Patch every holder: `from .x import f` copies the reference.
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE
                                   or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, value))

    def uninstall(self) -> None:
        for mod, name, original in reversed(self._patched):
            setattr(mod, name, original)
        self._patched.clear()

    def report(self, pass_s: float) -> dict[str, float]:
        """Per-layer metrics of the spans recorded so far, for a pass that
        took ``pass_s`` seconds. Self times of all spans add up to the
        time covered by root spans; the rest of the pass is reported as
        ``trace.unattributed_s``, and the time the tracer itself spent in
        the pass as ``trace.overhead_s``."""
        self._acct.flush()
        totals = {layer: LayerTotals() for layer in JOB_LAYERS + LAZY_LAYERS}
        for sp in self.spans:
            t = totals[sp.layer]
            t.calls += 1
            t.self_s += sp.duration - sp.child_s
            if sp.parent is None or sp.parent.layer != sp.layer:
                t.wall_s += sp.duration
            t.jobs.add(self._acct.stats(sp.group))
        out: dict[str, float] = {}
        for layer in JOB_LAYERS:
            t = totals[layer]
            out.update({
                f"{layer}.calls": t.calls,
                f"{layer}.wall_s": t.wall_s,
                f"{layer}.self_s": t.self_s,
                f"{layer}.jobs": t.jobs.jobs,
                f"{layer}.tasks": t.jobs.tasks,
                f"{layer}.skipped_stage_ratio": t.jobs.skipped_stage_ratio,
                f"{layer}.executor_run_s": t.jobs.executor_run_s,
                f"{layer}.executor_cpu_s": t.jobs.executor_cpu_s,
                f"{layer}.shuffle_write_mb": t.jobs.shuffle_write_mb,
                f"{layer}.shuffle_read_mb": t.jobs.shuffle_read_mb,
                f"{layer}.spill_mb": t.jobs.spill_mb,
            })
        for layer in LAZY_LAYERS:
            out[f"{layer}.calls"] = totals[layer].calls
            out[f"{layer}.self_s"] = totals[layer].self_s
        root_s = sum(sp.duration for sp in self.spans if sp.parent is None)
        out["trace.unattributed_s"] = pass_s - root_s
        root = self._acct.stats(self._root_group)
        out["trace.unattributed_jobs"] = root.jobs
        out["trace.overhead_s"] = self.overhead_s
        return out
