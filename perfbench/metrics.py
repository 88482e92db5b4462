"""Metric definitions and their aggregation from one run's passes.

Both come from a run's two timed passes, the first in its JVM and a warm
one: each metric is computed per pass and reported as the median over the
passes (with two, their mean). End-to-end metrics come from an untraced
run, per-layer metrics from a traced one, which also runs an untraced extra
pass to measure the tracing cost. Every metric is emitted on every
workload, 0 where the workload does not exercise the layer, so each mode's
output always has the same keys. ``TARGETS`` records, for each per-layer
metric, which end-to-end metric it should move and on which workload.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from .probes import SparkCounters, Writes
from .workloads import CURATION

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("cpu_s", "CPU-s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_max_s", "s", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
)

# etl operation -> its step metric (the three MERGEs add up in one)
_STEPS = {
    "pipeline.bronze": "bronze.s", "pipeline.silver": "silver.s",
    "pipeline.quality": "quality.s", "pipeline.gold": "gold.s",
    "versioned.create": "versioned.create_s", "versioned.merge": "versioned.merge_s",
    "versioned.compact": "versioned.compact_s", "versioned.read": "versioned.read_s",
    "versioned.vacuum": "versioned.vacuum_s", "q245": "streaming.upsert_s",
}
_STEP_METRICS = tuple(_STEPS.values())
SELF_LAYERS = ("session", "pass", "op", "build", "exec", "counters", "check")

PER_LAYER = (
    ("session.import_s", "s"), ("session.start_s", "s"), ("session.warm_s", "s"),
    ("bench.prep_s", "s"), ("pass.warmup_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"),
    ("scan.input_rows", "count"), ("scan.input_bytes", "B"),
    ("shuffle.read_bytes", "B"), ("shuffle.write_bytes", "B"),
    ("tasks.count", "count"), ("tasks.failed", "count"), ("tasks.cpu_s", "CPU-s"),
    ("tasks.run_s", "s"), ("tasks.gc_s", "s"), ("tasks.wait_s", "s"),
    ("memory.peak_exec_bytes", "B"), ("memory.spill_bytes", "B"),
    ("python.rows", "count"), ("driver.result_rows", "count"),
    ("write.files", "count"), ("write.bytes", "B"), ("write.small_files", "count"),
    ("write.amplification", "ratio"),
    *((m, "s") for m in _STEP_METRICS),
    *((f"{q}.{part}_s", "s") for q in CURATION for part in ("build", "exec")),
    *((f"self.{layer}_s", "s") for layer in SELF_LAYERS),
    ("trace.overhead_s", "s"),
)

# per-layer metric (or prefix) -> (end-to-end metrics it should move, workloads)
TARGETS = {
    "session.": ("setup_s", "curation etl"),
    "pass.warmup_s": ("wall_s op_max_s", "curation etl"),
    "bench.prep_s": ("none: benchmark-only input and oracle preparation", "all"),
    "build.": ("wall_s cpu_s", "curation"),
    "exec.": ("wall_s op_p50_s", "curation etl"),
    "scan.": ("wall_s", "curation etl"),
    "shuffle.": ("wall_s cpu_s", "curation etl"),
    "tasks.cpu_s": ("cpu_s", "curation etl"),
    "tasks.wait_s": ("wall_s", "curation"),
    "tasks.": ("cpu_s wall_s", "curation etl"),
    "memory.": ("peak_rss_mb failed_ops", "curation"),
    "python.rows": ("wall_s", "curation"),
    "driver.result_rows": ("wall_s", "curation etl"),
    "write.": ("wall_s", "etl"),
    **{m: ("wall_s op_max_s", "etl") for m in _STEP_METRICS},
    **{f"{q}.": ("wall_s cpu_s", "curation") for q in CURATION},
    "self.": ("none: attribution of wall time to layers", "all"),
    "trace.overhead_s": ("none: traced minus untraced wall_s", "all"),
}


def target_of(metric: str) -> tuple[str, str]:
    """(end-to-end metrics, workloads) a per-layer metric should move."""
    if metric in TARGETS:
        return TARGETS[metric]
    prefix = max((k for k in TARGETS if k.endswith(".") and metric.startswith(k)), key=len)
    return TARGETS[prefix]


@dataclass
class OpRecord:
    name: str
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    result_rows: int = 0
    build: SparkCounters | None = None
    exec: SparkCounters | None = None
    writes: Writes | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class PassResult:
    no: int
    traced: bool
    # run after the timed passes, for the tracing overhead only
    extra: bool = False
    cpu_s: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(op.latency_s for op in self.ops)


def _timed(passes: list[PassResult]) -> list[PassResult]:
    return [p for p in passes if not p.extra]


def _median_of(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(row[k] for row in rows) for k in rows[0]}


def end_to_end(setup_s: float, passes: list[PassResult], peak_rss_mb: float) -> dict[str, float]:
    """End-to-end metrics: the median over the timed passes of each pass's
    wall, CPU, median and slowest operation latency."""
    per_pass = []
    for p in _timed(passes):
        latencies = [op.latency_s for op in p.ops]
        per_pass.append({
            "wall_s": p.wall_s,
            "cpu_s": p.cpu_s,
            "op_p50_s": statistics.median(latencies),
            "op_max_s": max(latencies),
        })
    return {"setup_s": setup_s, **_median_of(per_pass), "peak_rss_mb": peak_rss_mb}


def _pass_layers(p: PassResult, merge_input_bytes: int) -> dict[str, float]:
    c = SparkCounters()
    w = Writes()
    out = {name: 0.0 for name, _ in PER_LAYER}
    merge_bytes = 0
    for op in p.ops:
        merge = op.name.startswith("versioned.merge")
        for part in (op.build, op.exec):
            if part is not None:
                c.add(part)
        out["build.s"] += op.build_s
        out["exec.s"] += op.exec_s
        out["build.jobs"] += op.build.jobs if op.build else 0
        out["exec.jobs"] += op.exec.jobs if op.exec else 0
        out["driver.result_rows"] += op.result_rows
        if op.writes is not None:
            w.files += op.writes.files
            w.bytes += op.writes.bytes
            w.small_files += op.writes.small_files
            if merge:
                merge_bytes += op.writes.bytes
        step = _STEPS.get("versioned.merge" if merge else op.name)
        if step is not None:
            out[step] += op.latency_s
        elif op.name in CURATION:
            out[f"{op.name}.build_s"] = op.build_s
            out[f"{op.name}.exec_s"] = op.exec_s
    out.update({
        "scan.input_rows": c.input_rows,
        "scan.input_bytes": c.input_bytes,
        "shuffle.read_bytes": c.shuffle_read_bytes,
        "shuffle.write_bytes": c.shuffle_write_bytes,
        "tasks.count": c.tasks,
        "tasks.failed": c.tasks_failed,
        "tasks.cpu_s": c.cpu_s,
        "tasks.run_s": c.run_s,
        "tasks.gc_s": c.gc_s,
        "tasks.wait_s": c.run_s - c.cpu_s,
        "memory.peak_exec_bytes": c.peak_exec_bytes,
        "memory.spill_bytes": c.spill_bytes,
        "python.rows": c.python_rows,
        "write.files": w.files,
        "write.bytes": w.bytes,
        "write.small_files": w.small_files,
        "write.amplification": merge_bytes / merge_input_bytes if merge_input_bytes else 0.0,
    })
    return out


def per_layer(
    measured: dict[str, float], passes: list[PassResult], merge_input_bytes: int
) -> dict[str, float]:
    """Per-layer metrics: the median over the traced timed passes, plus the
    values the caller measured once per run (``measured``: session, prep,
    self times). ``pass.warmup_s`` is the first pass minus the second, the
    share of a JVM's first pass that a warm JVM no longer pays;
    ``trace.overhead_s`` is the traced warm pass minus the untraced extra
    pass after it."""
    timed = _timed(passes)
    out = _median_of([_pass_layers(p, merge_input_bytes) for p in timed])
    out.update(measured)
    extra = [p for p in passes if p.extra]
    if len(timed) == 2 and extra:
        out["pass.warmup_s"] = timed[0].wall_s - timed[1].wall_s
        out["trace.overhead_s"] = timed[1].wall_s - extra[0].wall_s
    return out
