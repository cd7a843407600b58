"""In-memory spans for the traced run, and the wrappers that
record them around calls into the engine's public functions and methods.

No package file is changed: wrappers are installed by replacing module
and class attributes for the duration of one traced operation and are
removed afterwards. ``jobs.rollup_job`` imports its helpers by name, so
those are wrapped on that module, not where they are defined.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it that child spans cover.
    Children from pool threads may overlap each other; the union of
    their intervals (clipped to the parent) is subtracted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.id, []).append((lo, hi))
    return {s.id: s.dur - covered(kids.get(s.id, [])) for s in spans}


class Tracer:
    """Spans kept in memory, written out at the end.

    A span's parent is the innermost open span of its own thread; a span
    opened on a thread with none open (a pool worker) takes the innermost
    open span of the thread that created the tracer."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()

    def _parent(self) -> int | None:
        own = self._stacks.get(threading.get_ident())
        if own:
            return own[-1]
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._parent()
        stack = self._stacks.setdefault(threading.get_ident(), [])
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            span = Span(
                sid, name, start, end, parent, threading.current_thread().name, self.run_id
            )
            with self._lock:
                self.spans.append(span)

    def top_self(self, n: int = 10) -> list[tuple[str, int, float, float]]:
        """(name, count, total duration, total self time) of the span names
        with the most self time."""
        st = self_times(self.spans)
        agg: dict[str, list] = {}
        for s in self.spans:
            a = agg.setdefault(s.name, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s.dur
            a[2] += st[s.id]
        rows = [(name, c, d, x) for name, (c, d, x) in agg.items()]
        return sorted(rows, key=lambda r: -r[3])[:n]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {**asdict(s), "dur": s.dur, "self": st[s.id]} for s in self.spans
                    ],
                },
                f,
            )


class JobDescription:
    """Sets ``spark.job.description`` on the calling thread, so the jobs
    that thread submits can be attributed in Spark's status store."""

    KEY = "spark.job.description"

    def __init__(self, sc):
        self.sc = sc

    def set(self, label: str | None) -> None:
        self.sc.setLocalProperty(self.KEY, label)

    @contextlib.contextmanager
    def __call__(self, label: str):
        prev = self.sc.getLocalProperty(self.KEY)
        self.set(label)
        try:
            yield
        finally:
            self.set(prev)


class Patcher:
    """Replace attributes with wrappers; ``restore`` puts the originals back."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def install(tracer: Tracer, describe: JobDescription, marks: dict) -> Patcher:
    """Wrap the engine's layer boundaries the benchmark's workloads cross.

    ``marks`` receives ``staging_end`` (perf_counter) when the rollup job's
    ``stage_source`` lineage commit returns."""
    import jobs.rollup_job as rj
    from biomed_timeseries_preprocessing_spark.operators import retention
    from biomed_timeseries_preprocessing_spark.plans.lineage import LineageLog
    from biomed_timeseries_preprocessing_spark.sources.catalog import (
        LocalSnapshotCatalog,
    )

    p = Patcher()

    def spanned(name_of, label_of=None):
        def make(fn):
            def w(*a, **kw):
                with tracer.span(name_of(*a, **kw)):
                    if label_of is None:
                        return fn(*a, **kw)
                    with describe(label_of(*a, **kw)):
                        return fn(*a, **kw)

            return w

        return make

    def table_label(_self, table, *a, **kw):
        return table

    # sources.catalog: data-file writes (the Spark jobs) and metadata commits
    p.wrap(
        LocalSnapshotCatalog,
        "write_data_files",
        spanned(lambda s, t, *a, **k: f"catalog.write.{t}", table_label),
    )
    p.wrap(
        LocalSnapshotCatalog,
        "overwrite",
        spanned(lambda s, t, *a, **k: f"catalog.overwrite.{t}"),
    )
    p.wrap(LocalSnapshotCatalog, "read", spanned(lambda s, sp, t, *a, **k: f"catalog.read.{t}"))
    for m in ("commit_overwrite_partitions", "append_files", "delete_files_where"):
        p.wrap(
            LocalSnapshotCatalog,
            m,
            spanned(lambda *a, _m=m, **k: f"catalog.commit.{_m}"),
        )

    # plans.lineage: resume reads (each a Spark job) and batched commits
    p.wrap(
        LineageLog,
        "committed",
        spanned(lambda *a, **k: "lineage.committed", lambda *a, **k: "lineage"),
    )
    p.wrap(LineageLog, "commit_many", spanned(lambda *a, **k: "lineage.commit_many"))

    def lineage_commit(fn):
        def w(self, run_id, stage, *a, **kw):
            with tracer.span(f"lineage.commit.{stage}"):
                out = fn(self, run_id, stage, *a, **kw)
            if stage == "stage_source":
                marks["staging_end"] = time.perf_counter()
                describe.set("job")
            return out

        return w

    p.wrap(LineageLog, "commit", lineage_commit)

    # operators.retention: apply_retention looks these up in its module
    p.wrap(retention, "expire_files", spanned(lambda *a, **k: "retention.expire_files"))

    def rewrite_tier(catalog, spark, table, *a, **kw):
        return f"retention.expire_rewrite.{table.split('_', 1)[-1]}"

    p.wrap(retention, "expire_rewrite", spanned(rewrite_tier, rewrite_tier))

    # jobs.rollup_job: names it imported (plan builders and the audit read)
    for name in (
        "gapfill",
        "with_derived",
        "rollup_from_turns",
        "rollup_merge",
        "pending_buckets",
        "read_audit",
    ):
        p.wrap(rj, name, spanned(lambda *a, _n=name, **k: f"rollup_job.{_n}"))
    return p
