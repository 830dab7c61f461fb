"""Spans around the benchmark's calls into engine layers.

A traced span puts every Spark job it starts under its own job group and,
when it ends, reads the group's stages from the status store (populated
even with the UI disabled). Reading at span end, after the listener bus has
drained, means stage retention can never evict a span's stages. Spans nest
per thread; a parent's stage totals include its children's.

An untraced ``Tracer`` hands out no-op spans, so the timed runs pay nothing.
"""

from __future__ import annotations

import statistics
import threading
import time
import uuid
from contextlib import contextmanager

# Every per-layer span the benchmark records, named after the engine module.
LAYERS = (
    "tables.load_table",
    "functions.normalize.normalize_row",
    "snapshot.engine.snapshot_table",
    "changelog.txlog.overwrite",
    "changelog.txlog.apply",
    "changelog.txlog.read",
    "changelog.txlog.read.scan",
    "changelog.apply.latest_per_key",
    "validation.checks.run_all_checks",
    "validation.checks.check_orphans",
    "validation.drift.duplicate_groups",
    "ops.dedup.exact_dedup",
    "ops.dedup.minhash_verified_pairs",
    "ops.components.neardup_groups",
    "ops.textstats.quality_score",
)
# name -> (unit, better)
SPAN_STATS = {
    "wall_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "task_cpu_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "gc_s": ("s", "lower"),
    "tasks": ("count", "lower"),
}
COUNTS = {
    "changelog.txlog.apply.buckets_touched": ("count", "lower"),
    "changelog.txlog.apply.files_added": ("count", "lower"),
    "changelog.txlog.apply.files_removed": ("count", "lower"),
    "changelog.txlog.apply.write_amp": ("ratio", "lower"),
    "changelog.apply.latest_per_key.dedup_ratio": ("ratio", "higher"),
    "changelog.txlog.read.scan.files": ("count", "lower"),
    "ops.dedup.minhash_verified_pairs.pairs_out": ("count", "higher"),
    "ops.components.neardup_groups.groups_out": ("count", "higher"),
    "streaming.pipeline.trigger_s": ("s", "lower"),
    "streaming.pipeline.overhead_s": ("s", "lower"),
    "streaming.pipeline.files_per_trigger": ("count", "higher"),
    "streaming.pipeline.backlog_files_end": ("count", "lower"),
    "streaming.pipeline.busy_frac": ("ratio", "lower"),
    "gen.late_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.latency_p50_s": ("s", "lower"),
}


def per_layer_names() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name with its (unit, better)."""
    out = {f"{layer}.{stat}": ub for layer in LAYERS for stat, ub in SPAN_STATS.items()}
    out.update(COUNTS)
    return out


class _NullSpan:
    def count(self, name: str, value: float) -> None:
        pass


class Span:
    def __init__(self, name: str, parent: "Span | None") -> None:
        self.name = name
        self.parent = parent
        self.group = f"eb-{uuid.uuid4().hex[:12]}"
        self.start = self.end = 0.0
        self.stages: dict[tuple[int, int], tuple] = {}  # (stage, attempt) -> data
        self.counts: dict[str, float] = {}

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def stats(self) -> dict[str, float]:
        wall = self.end - self.start
        busy = _covered(
            [(max(s, self.start), min(e, self.end)) for s, e, *_ in self.stages.values()]
        )
        tot = [sum(v[i] for v in self.stages.values()) for i in range(2, 7)]
        cpu_ns, shuffle, spill, gc_ms, tasks = tot
        return {
            "wall_s": wall,
            "driver_s": max(0.0, wall - busy),
            "task_cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": float(shuffle),
            "spill_bytes": float(spill),
            "gc_s": gc_ms / 1000.0,
            "tasks": float(tasks),
        }


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans when ``enabled``; ``recording`` can be switched off for
    warm-up so only steady-state calls reach the per-layer medians."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.recording = True
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()
            self._no_tasks = sc._jvm.java.util.ArrayList()
            self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def record(self, name: str, value: float) -> None:
        """A count measured outside any span (stream and generator figures)."""
        if self.enabled and self.recording:
            with self._lock:
                self.counts.setdefault(name, []).append(float(value))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NullSpan()
            return
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(name, stack[-1] if stack else None)
        saved = self._get_props()
        self._set_group(sp.group)
        stack.append(sp)
        setup_s = time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self._set_props(saved)
            self._collect(sp)
            if sp.parent is not None:
                sp.parent.stages.update(sp.stages)
            with self._lock:
                if self.recording:
                    self.spans.append(sp)
                self.bookkeeping_s += setup_s + time.perf_counter() - t1

    # -- Spark plumbing -----------------------------------------------------
    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _get_props(self) -> list:
        return [self._sc.getLocalProperty(p) for p in self._PROPS]

    def _set_props(self, values: list) -> None:
        for p, v in zip(self._PROPS, values):
            self._sc.setLocalProperty(p, v)

    def _set_group(self, group: str) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        self._sc.setLocalProperty("spark.job.description", group)
        self._sc.setLocalProperty("spark.job.interruptOnCancel", "false")

    def _collect(self, sp: Span) -> None:
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(sp.group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                seq = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    sub, comp = sd.submissionTime(), sd.completionTime()
                    if not (sub.isDefined() and comp.isDefined()):
                        continue  # skipped stage: its work ran in an earlier job
                    sp.stages[(sid, sd.attemptId())] = (
                        sub.get().getTime() / 1000.0,
                        comp.get().getTime() / 1000.0,
                        sd.executorCpuTime(),
                        sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                        sd.jvmGcTime(),
                        sd.numTasks(),
                    )

    # -- results ------------------------------------------------------------
    def per_layer(self, traced_s: float) -> dict[str, float]:
        """Per-call medians of every span statistic and count; 0 for a layer
        this workload never calls."""
        out = {name: 0.0 for name in per_layer_names()}
        calls: dict[str, list[dict[str, float]]] = {}
        counts = {name: list(values) for name, values in self.counts.items()}
        for sp in self.spans:
            calls.setdefault(sp.name, []).append(sp.stats())
            for cname, v in sp.counts.items():
                counts.setdefault(f"{sp.name}.{cname}", []).append(v)
        for layer, stats in calls.items():
            for stat in SPAN_STATS:
                out[f"{layer}.{stat}"] = statistics.median(s[stat] for s in stats)
        for name, values in counts.items():
            if name in out:
                out[name] = statistics.median(values)
        out["trace.overhead_frac"] = self.bookkeeping_s / traced_s if traced_s > 0 else 0.0
        return out
