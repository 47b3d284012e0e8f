"""Spans around calls into the program's layers, and Spark jobs attributed
to them by submission time.

Nothing here edits the program: ``Tracer.install`` replaces layer
functions at the name their caller resolves (``xdump_spark.engine.
compute_closure``, not ``xdump_spark.planner.closure.compute_closure``)
and the actions of the classic DataFrame and DataFrameWriter classes with
thin wrappers, and ``uninstall`` puts the originals back. Spans live in
memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (object path, attribute, span name). The object path is where the
# caller looks the name up at call time.
LAYER_FUNCS = (
    ("xdump_spark.engine.SparkDumpEngine", "dump", "engine.dump"),
    ("xdump_spark.engine.SparkDumpEngine", "load", "engine.load"),
    ("xdump_spark.engine.LoadedDump", "write_parquet_db", "engine.replay"),
    ("xdump_spark.engine", "compute_closure", "closure"),
    ("xdump_spark.engine", "sequence_state", "engine.seqstate"),
    ("xdump_spark.engine", "rows_to_csv", "archive.encode"),
    ("xdump_spark.engine", "parse_csv_bytes", "archive.parse"),
    ("xdump_spark.archive.DumpArchive", "write", "archive.zip_write"),
    ("xdump_spark.archive.DumpArchive", "read_schema", "archive.zip_read"),
    ("xdump_spark.archive.DumpArchive", "read_sequences", "archive.zip_read"),
    ("xdump_spark.archive.DumpArchive", "read_data", "archive.zip_read"),
    ("xdump_spark", "prepare_training_corpus", "pipeline"),
    ("xdump_spark.sources.corpus_sink", "write_corpus", "pipeline.sink"),
)

# Methods that run Spark jobs. Wrapped on the classic classes: the public
# pyspark.sql.DataFrame is only the parent, and patching it catches nothing.
DATAFRAME_ACTIONS = (
    "collect", "count", "toPandas", "toArrow", "toLocalIterator", "take",
    "head", "first", "foreach", "foreachPartition", "show", "checkpoint",
    "localCheckpoint",
)
WRITER_ACTIONS = ("save", "parquet", "csv", "json", "orc", "text", "jdbc",
                  "saveAsTable", "insertInto")

OPERATORS_PACKAGE = "xdump_spark.operators"


@dataclass
class Span:
    id: int
    name: str
    start: float                 # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    parent: int | None = None
    caller: str = ""             # actions: innermost calling xdump_spark function
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its children
    cover (children on other threads may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, ()), s.start, s.end) for s in spans}


def attribute_jobs(spans: list[Span], jobs, tol: float = 0.001) -> list[int]:
    """Give each ``(job_id, submitted_epoch_s)`` to the deepest span open
    at its submission time (the latest-started one among equally deep
    siblings) and return the ids no span covers. ``tol`` absorbs Spark's
    millisecond truncation of submission times."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else depth_of(by_id[s.parent]) + 1
        return depth[s.id]

    orphans = []
    for job_id, t in jobs:
        open_ = [s for s in spans if s.start - tol <= t <= s.end + tol]
        if not open_:
            orphans.append(job_id)
            continue
        best = max(open_, key=lambda s: (depth_of(s), s.start))
        best.jobs.append(job_id)
    return orphans


def subtree(spans: list[Span], root_pred) -> list[Span]:
    """Spans matching ``root_pred`` with no matching ancestor, plus all
    their descendants."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        p = s
        while p is not None:
            if root_pred(p):
                out.append(s)
                break
            p = by_id.get(p.parent) if p.parent is not None else None
    return out


def _resolve(path: str):
    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(path)


def _calling_function() -> str:
    f = sys._getframe(2)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if mod.startswith("xdump_spark"):
            return f"{mod}.{f.f_code.co_name}"
        f = f.f_back
    return "bench"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next = 0

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        main = self._stacks.get(self._main)   # pool threads hang off the main thread's span
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str, caller: str = ""):
        parent = self.current()
        with self._lock:
            s = Span(self._next, name, time.time(),
                     parent=parent.id if parent else None, caller=caller)
            self._next += 1
            self.spans.append(s)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def take(self) -> list[Span]:
        """The spans recorded so far; the tracer starts afresh."""
        with self._lock:
            out, self.spans = self.spans, []
        return out

    # -- wrappers -----------------------------------------------------
    def _wrap(self, fn, name: str, nested: str | None = None, action: bool = False):
        """``nested``: a span-name prefix whose open span makes this call
        an internal one, recorded inside it rather than as a new span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if cur is not None and nested and cur.name.startswith(nested):
                return fn(*args, **kwargs)
            caller = _calling_function() if action else ""
            with tracer.span(name, caller):
                return fn(*args, **kwargs)

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for path, attr, name in LAYER_FUNCS:
            owner = _resolve(path)
            fn = owner.__dict__[attr]
            self._patch(owner, attr, self._wrap(fn, name))
        self._install_actions()
        self._install_operators()

    def _install_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for cls, names in ((DataFrame, DATAFRAME_ACTIONS), (DataFrameWriter, WRITER_ACTIONS)):
            for attr in names:
                if attr in cls.__dict__:
                    fn = cls.__dict__[attr]
                    self._patch(cls, attr, self._wrap(fn, f"action.{attr}", "action.", True))

    def _install_operators(self) -> None:
        """Wrap each public function of every loaded operator module, in
        its own module and in every xdump_spark namespace that imported
        it by name. Calls from one operator into another stay inside the
        outer span."""
        mods = {n: m for n, m in sys.modules.items()
                if n.startswith(OPERATORS_PACKAGE + ".") and m is not None}
        originals: dict[int, object] = {}
        for modname, mod in mods.items():
            layer = "operators." + modname.rsplit(".", 1)[1]
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                w = self._wrap(fn, layer, "operators.")
                originals[id(fn)] = w
                self._patch(mod, attr, w)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith("xdump_spark") or modname in mods:
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in originals and not getattr(obj, "__wrapped_by_tracer__", False):
                    self._patch(mod, attr, originals[id(obj)])

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
