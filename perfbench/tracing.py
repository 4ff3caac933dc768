"""Spans around the calls into each layer, recorded from the benchmark's side.

A traced pass nests spans as pass -> query -> registry.build
(-> catalog.load / catalog.commit / streaming.run) and execute. Each span
keeps its name, start, end, parent, the run id shared by every span of a
run, and the Spark job-id counter at its start and end, so the jobs a
span launched are counted exactly, including those started on streaming
threads. Spans stay in memory until ``write`` at the end of the run.

The layer boundaries are the package's public functions, wrapped by
``patch_layers`` for the length of a traced pass and restored afterwards.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PKG = "rad_database_parse_spark"


@dataclass
class Span:
    id: int
    run: str
    name: str
    parent: int | None
    start: float
    end: float = float("nan")
    job_start: int = 0
    job_end: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_end - self.job_start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    def __init__(
        self,
        run_id: str,
        job_counter: Callable[[], int] = lambda: 0,
        clock: Callable[[], float] = time.perf_counter,
    ) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._job_counter = job_counter
        self._clock = clock
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._owner = threading.get_ident()

    def _parent(self) -> int | None:
        # A span opened on another thread (a foreachBatch callback, say)
        # hangs under the innermost span open on the owning thread.
        for tid in (threading.get_ident(), self._owner):
            stack = self._stacks.get(tid)
            if stack:
                return stack[-1].id
        return None

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        stack = self._stacks.setdefault(threading.get_ident(), [])
        with self._lock:
            s = Span(len(self.spans), self.run_id, name, self._parent(), 0.0, attrs=attrs)
            self.spans.append(s)
        s.job_start = self._job_counter()
        s.start = self._clock()
        stack.append(s)
        try:
            yield s
        except BaseException as e:
            s.attrs["error"] = type(e).__name__
            raise
        finally:
            s.end = self._clock()
            s.job_end = self._job_counter()
            stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside ``within``."""
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if within.start <= s.start and s.end <= within.end]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _wrap(tracer: Tracer, name: str, fn: Callable, conflict: type | None = None):
    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            try:
                return fn(*args, **kwargs)
            except BaseException as e:
                if conflict is not None and isinstance(e, conflict):
                    s.attrs["conflict"] = True
                raise

    traced.__wrapped__ = fn
    return traced


@contextmanager
def patch_layers(tracer: Tracer) -> Iterator[None]:
    """Wrap the catalog and streaming entry points the registry calls.

    ``registry._util`` binds ``load_table`` at import, so that binding is
    patched next to the defining module's; ``commit`` and
    ``run_stream_to_memory`` are imported inside the builders at call
    time, so patching their modules reaches every caller."""
    io = importlib.import_module(f"{PKG}.catalog.io")
    txn = importlib.import_module(f"{PKG}.catalog.txn")
    events = importlib.import_module(f"{PKG}.streaming.events")
    load = _wrap(tracer, "catalog.load", io.load_table)
    targets = [
        (io, "load_table", load),
        (importlib.import_module(f"{PKG}.catalog"), "load_table", load),
        (importlib.import_module(f"{PKG}.registry._util"), "load_table", load),
        (txn, "commit", _wrap(tracer, "catalog.commit", txn.commit, txn.CommitConflict)),
        (
            events,
            "run_stream_to_memory",
            _wrap(tracer, "streaming.run", events.run_stream_to_memory),
        ),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for mod, attr, wrapper in targets:
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, original in saved:
            setattr(mod, attr, original)
