"""Spans around the benchmark's calls into each layer.

A span is (name, layer, start, end, parent, run id) plus the process-tree
CPU at both ends and any counts the caller attaches.  Spans stay in memory
and are written out when the run ends.  In a traced run each span also
tags its Spark jobs with a job group of its own, so the stage and SQL
metrics of every call can be found afterwards (``meters``).

The layer of a span is the part of its name before the first dot.  Spans
of the ``bench`` layer are the benchmark's own loop; their self time is
the part of the wall time that no library layer accounts for.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from meters import ProcTree, spark_metrics_by_group

BENCH = "bench"


class Span:
    __slots__ = ("idx", "name", "layer", "parent", "start", "end", "cpu0",
                 "cpu1", "counts", "spark")

    def __init__(self, idx, name, parent, start, cpu0):
        self.idx, self.name, self.parent = idx, name, parent
        self.layer = name.split(".", 1)[0]
        self.start, self.end = start, start
        self.cpu0, self.cpu1 = cpu0, cpu0
        self.counts: dict = {}
        self.spark: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def cpu(self, key: str = "cpu_s") -> float:
        return self.cpu1[key] - self.cpu0[key]

    def to_json(self, run_id: str) -> dict:
        return {
            "run": run_id, "idx": self.idx, "name": self.name, "layer": self.layer,
            "parent": self.parent, "start": self.start, "end": self.end,
            "wall_s": self.wall,
            "cpu": {k: self.cpu1[k] - self.cpu0[k] for k in self.cpu0},
            "counts": self.counts, "spark": self.spark,
        }


class Tracer:
    """Records spans; with ``traced`` also tags Spark jobs per span."""

    def __init__(self, run_id: str, tree: ProcTree, traced: bool):
        self.run_id = run_id
        self.tree = tree
        self.traced = traced
        self.spark = None  # set once the session exists
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent tagging job groups

    def _group(self, span: Span | None) -> str | None:
        return f"{self.run_id}:{span.idx}" if span is not None else None

    def _tag(self, span: Span | None) -> None:
        if not (self.traced and self.spark is not None):
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(span), span.name)
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.idx if parent else None,
                    time.perf_counter(), self.tree.sample())
        span.counts.update(counts)
        self.spans.append(span)
        self._stack.append(span)
        self._tag(span)
        try:
            yield span
        finally:
            span.cpu1 = self.tree.sample()
            span.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def harvest_spark(self) -> None:
        """Attach each span's own Spark stage and SQL metrics."""
        if not self.traced:
            return
        by_group = spark_metrics_by_group(self.spark)
        for s in self.spans:
            s.spark = by_group.get(self._group(s), {})

    def layer_table(self, roots: list[Span]) -> dict:
        """Self time, self CPU and bytes per layer over the subtrees of
        ``roots``.

        Self time is a span's wall time minus its direct children's, so the
        rows sum to the roots' wall time exactly; the ``bench`` row is the
        unattributed remainder."""
        inside = {r.idx for r in roots}
        members = list(roots)
        for s in self.spans[min(inside) + 1:]:
            if s.parent in inside and s.idx not in inside:
                inside.add(s.idx)
                members.append(s)
        child_wall: dict[int, float] = {}
        child_cpu: dict[int, float] = {}
        for s in members[1:]:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
            child_cpu[s.parent] = child_cpu.get(s.parent, 0.0) + s.cpu()
        rows: dict[str, dict] = {}
        for s in members:
            r = rows.setdefault(s.layer, {
                "self_s": 0.0, "self_cpu_s": 0.0, "calls": 0,
                "shuffle_bytes": 0.0, "py_bytes": 0.0,
            })
            r["self_s"] += s.wall - child_wall.get(s.idx, 0.0)
            r["self_cpu_s"] += s.cpu() - child_cpu.get(s.idx, 0.0)
            r["calls"] += 1
            r["shuffle_bytes"] += (s.spark.get("shuffle_write_bytes", 0.0)
                                   + s.spark.get("shuffle_read_bytes", 0.0))
            r["py_bytes"] += (s.spark.get("py_bytes_in", 0.0)
                              + s.spark.get("py_bytes_out", 0.0))
        wall = sum(r.wall for r in roots)
        for r in rows.values():
            r["share"] = r["self_s"] / wall if wall else 0.0
        attributed = {k: v for k, v in rows.items() if k != BENCH}
        dominant = max(attributed, key=lambda k: attributed[k]["self_s"],
                       default=BENCH)
        return {
            "wall_s": wall,
            "rows_sum_s": sum(r["self_s"] for r in rows.values()),
            "coverage": 1.0 - rows.get(BENCH, {"self_s": 0.0})["self_s"] / wall,
            "dominant": dominant,
            "layers": dict(sorted(rows.items(), key=lambda kv: -kv[1]["self_s"])),
        }


def format_table(table: dict) -> str:
    lines = [
        f"{'layer':<10} {'self_s':>8} {'share':>6} {'cpu_s':>8} "
        f"{'calls':>5} {'shuffle_MB':>10} {'py_MB':>8}"
    ]
    for name, r in table["layers"].items():
        lines.append(
            f"{name:<10} {r['self_s']:8.3f} {r['share']:6.1%} "
            f"{r['self_cpu_s']:8.3f} {r['calls']:5d} "
            f"{r['shuffle_bytes'] / 1e6:10.2f} {r['py_bytes'] / 1e6:8.2f}"
        )
    lines.append(
        f"wall {table['wall_s']:.3f} s, rows sum {table['rows_sum_s']:.3f} s, "
        f"attributed {table['coverage']:.1%}, dominant layer: {table['dominant']}"
    )
    return "\n".join(lines)
