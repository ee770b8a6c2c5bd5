"""Measurement plumbing: spans, Spark event-log counters and
micro-batch lag attribution.

Nothing here imports pyspark at module level, so the pure parts
(:func:`attribute_lag`, :func:`parse_event_log`)
are testable without a JVM.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    #: ``time.time()`` at the start, to place the span among wall-clock
    #: events such as micro-batch progress
    wall: float
    seconds: float


@dataclass
class Tracer:
    """In-memory spans, named after the layer a call enters. Safe to
    use from the stream's batch thread and the main thread at once."""

    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        wall = time.time()
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                Span(name, wall, time.perf_counter() - start)
            )

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)


# -- event log ---------------------------------------------------------------


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    bytes_written: int = 0
    peak_exec_mem: int = 0
    #: tasks of stages that scan the Python feed source
    source_tasks: int = 0
    source_cpu_ns: float = 0.0


def _group_of(props: dict) -> str:
    """The streaming engine tags every micro-batch job with its batch
    id, which wins over the job group it also sets."""
    batch = props.get("streaming.sql.batchId")
    if batch is not None:
        return f"batch:{batch}"
    return props.get("spark.jobGroup.id") or "(none)"


def _is_source_stage(stage_info: dict) -> bool:
    """A stage whose RDD lineage holds the streaming source's scan."""
    return any(
        '"MicroBatchScan"' in rdd.get("Scope", "")
        for rdd in stage_info.get("RDD Info", [])
    )


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupCounters]:
    """Spark JSON event log → counters per job group.

    A job belongs to the group named by its ``streaming.sql.batchId``
    (``batch:<id>``) or ``spark.jobGroup.id`` local property; a stage
    and its tasks belong to the group of the job that submitted it.
    """
    groups: dict[str, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str] = {}
    source_stages: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties") or {})
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            for info in ev.get("Stage Infos", []):
                if _is_source_stage(info):
                    source_stages.add(info["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"], "(none)")
            groups[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid, "(none)")]
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.bytes_written += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            g.peak_exec_mem = max(
                g.peak_exec_mem, m.get("Peak Execution Memory", 0)
            )
            if sid in source_stages:
                g.source_tasks += 1
                g.source_cpu_ns += m.get("Executor CPU Time", 0)
    return dict(groups)


def read_event_logs(log_dir: str) -> dict[str, GroupCounters]:
    """Parse every finished event log under ``log_dir``."""
    lines: list[str] = []
    for dirpath, _dirs, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.endswith(".inprogress") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                lines.extend(f)
    return parse_event_log(lines)


# -- micro-batch lag ---------------------------------------------------------


def covers(start: dict | None, end: dict, route: str, ms: int) -> bool:
    """Whether a micro-batch with source offsets ``(start, end]``
    (``{route: time_ms}``; ``start`` is ``None`` for the first batch)
    read document ``ms`` of ``route``."""
    return int((start or {}).get(route, 0)) < ms <= int(end.get(route, 0))


def attribute_lag(
    docs: Iterable[tuple[str, int, float]],
    batches: Iterable[tuple[dict | None, dict, float]],
    deadline: float,
) -> list[float]:
    """Per-document lag from ``(startOffset, endOffset]`` offset maps.

    ``docs``: ``(route, time_ms, stamp)`` — the document's offset and
    the wall time it was due. ``batches``: ``(start, end, reported)`` —
    a micro-batch's source offsets (``{route: time_ms}``; ``start`` is
    ``None`` for the first batch) and the wall time its progress was
    reported. A document's lag is ``reported - stamp`` of the batch
    whose range covers it; a document no batch covers gets
    ``deadline - stamp``, so it counts as missing any limit below that.
    """
    batches = list(batches)
    return [
        next(
            (reported for start, end, reported in batches
             if covers(start, end, route, ms)),
            deadline,
        ) - stamp
        for route, ms, stamp in docs
    ]


# -- process / filesystem probes ---------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path`` — parquet parts only, so
    manifests and claim files do not count as data written."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files
