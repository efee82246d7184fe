"""In-memory spans around the engine's public calls, and Spark work counts.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span, ``op`` the benchmark operation it belongs to. Spans stay in
memory and are written once when the run ends.

Tracing wraps each public callable where its caller looks it up, so the
program's own files stay unchanged:

* ``build_index`` is bound by name in ``plans.build`` and ``plans.admin``;
  both bindings are replaced.
* ``IndexReader`` methods are replaced on the class, which also covers
  ``SegmentSetReader``; its calls are named ``segments.*``.
* ``score_group`` is looked up in ``plans.wand`` when the driver path runs.
  It is swapped in only for the length of a ``search_rows`` call, so the
  closure that ``search_many`` ships to Python workers never holds it.
  Calls inside ``applyInPandas`` workers are not visible from the driver.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    counts: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


class Recorder:
    """Span stack for one single-threaded driver."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def named(self, name: str, op: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (op is None or s.op == op)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullRecorder(Recorder):
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


def _wrap(rec: Recorder, name: str, fn):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return inner


def install(rec: Recorder) -> None:
    """Wrap the engine's public callables (module docstring)."""
    from esbulk_spark import session
    from esbulk_spark.operators import merge
    from esbulk_spark.plans import admin, build, wand
    from esbulk_spark.plans.reader import IndexReader
    from esbulk_spark.plans.segments import SegmentSetReader

    session.get_spark = _wrap(rec, "session.get_spark", session.get_spark)
    traced_build = _wrap(rec, "build.build_index", build.build_index)
    build.build_index = traced_build
    admin.build_index = traced_build
    for fn in ("append_docs", "open_reader", "compact_attached"):
        setattr(admin, fn, _wrap(rec, f"admin.{fn}", getattr(admin, fn)))
    merge.merge_segments_fast = _wrap(
        rec, "merge.merge_segments_fast", merge.merge_segments_fast
    )

    plain_score = wand.score_group

    @functools.wraps(plain_score)
    def traced_score(pdf, *args, **kwargs):
        with rec.span("wand.score_group") as s:
            s.counts["chunk_rows"] = int(len(pdf))
            s.counts["postings"] = int(pdf["n"].sum()) if len(pdf) else 0
            return plain_score(pdf, *args, **kwargs)

    def reader_method(method: str, swap_score: bool = False):
        plain = getattr(IndexReader, method)

        @functools.wraps(plain)
        def inner(self, *args, **kwargs):
            layer = "segments" if isinstance(self, SegmentSetReader) else "reader"
            with rec.span(f"{layer}.{method}"):
                if not swap_score:
                    return plain(self, *args, **kwargs)
                wand.score_group = traced_score
                try:
                    return plain(self, *args, **kwargs)
                finally:
                    wand.score_group = plain_score

        setattr(IndexReader, method, inner)

    reader_method("lookup_terms")
    reader_method("search_rows", swap_score=True)
    reader_method("search_many")
    reader_method("doc_count")


class JobCounter:
    """Spark jobs, stages and tasks per benchmark operation, read from the
    status tracker under a job group set around each operation."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.by_op: dict[int, tuple[int, int, int]] = {}

    @contextmanager
    def group(self, op: int, kind: str):
        gid = f"perfbench-{op}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.by_op[op] = self._count(gid)

    def _count(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks
