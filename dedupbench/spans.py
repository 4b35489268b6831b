"""Spans recorded from outside the program, and their attribution.

A ``Tracer`` keeps spans (name, layer, start, end, parent) in memory.  While
a span is open the Spark job description names it, so the event log's task
metrics can be charged to the innermost span that ran them.  ``Hooks``
installs wrappers around the public functions each layer exposes and takes
them out again; no program file changes.  ``Tracer.phases`` splits one span
into consecutive phases, for a body whose steps are marked by the calls it
makes rather than nested inside them.

A layer's self time is the time its spans cover minus the part their child
spans cover, so the self times of all spans partition the root spans' wall.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PKG = "image_deduplication_3m_images_spark"
DESC_PREFIX = "span:"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    t0: float
    t1: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.t1 if self.t1 is not None else self.t0) - self.t0


class Tracer:
    """In-memory span recorder.  ``describe`` is called with the innermost
    open span (or None) whenever it changes; the benchmark passes a function
    that sets the Spark job description."""

    def __init__(self, describe=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._describe = describe or (lambda span: None)
        self._clock = clock

    @property
    def top(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def open(self, name: str, layer: str | None = None, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer or name, parent, self._clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        return s

    def close(self, s: Span) -> None:
        """End ``s``, which must be the innermost open span."""
        assert self._stack and self._stack[-1] is s, f"{s.name} is not innermost"
        s.t1 = self._clock()
        self._stack.pop()
        self._describe(self.top)

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        s = self.open(name, layer, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def phases(self, name: str, layer: str, first: str):
        """A span whose body runs in consecutive phases: ``first`` opens
        with it, and each ``Phases.enter`` ends the open phase and starts
        the next, so the phases partition the span."""
        with self.span(name, layer) as s:
            ph = Phases(self, layer, s)
            ph.enter(first)
            try:
                yield ph
            finally:
                ph.end()

    def dump(self, path: str, work: dict | None = None) -> None:
        """Write the spans as JSON, each with the Spark work charged to it."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        work = work or {}
        with open(path, "w") as f:
            json.dump([
                {**asdict(s), "work": asdict(work[s.id]) if s.id in work else None}
                for s in self.spans
            ], f)


class Phases:
    def __init__(self, tracer: Tracer, layer: str, span: Span):
        self.tracer = tracer
        self.layer = layer
        self.span = span  # the span the phases partition
        self.current: Span | None = None

    def enter(self, name: str) -> None:
        """Start phase ``name``: a span named ``<layer>.<name>``, which is
        also its layer, so a layer table shows the phases.  A call made while a
        span inside the phase is open, or to the phase already open, leaves
        the phases as they are."""
        full = f"{self.layer}.{name}"
        t = self.tracer
        if self.current is not None:
            if t.top is not self.current or self.current.name == full:
                return
            t.close(self.current)
        self.current = t.open(full, full)

    def end(self) -> None:
        if self.current is not None:
            self.tracer.close(self.current)
            self.current = None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        end = s.t0
        for c in sorted(kids.get(s.id, []), key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.id] = s.dur - covered
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    ids = {root.id}
    out = [root]
    for s in spans:  # spans are recorded parent-first
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def layer_self(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# --- wrappers -------------------------------------------------------------

# Stage tables of run_dedupe, by the layer their write computes.
STAGE_TABLES = {
    "signatures": "functions.signatures",
    "candidate_pairs": "operators.lsh",
    "verified_pairs": "operators.verify",
    "report": "plans.dedupe.report",
}
CATALOG_CALLS = ("read", "row_count", "exists", "stage_complete", "snapshot_id")
LINEAGE_CALLS = ("log_lineage", "log_lineage_for_table", "log_event")
# Appends that start the commit phase of an ingest batch: its new
# signatures (then bands and edges), and the batch-done record.
INGEST_COMMITS = ("signatures", "_batches")


class Hooks:
    """Installs span wrappers around the layers' public functions.

    ``install("dedupe")`` wraps the stage builders of ``run_dedupe``;
    names ``plans.dedupe`` binds at import time (``connected_components``,
    ``hot_bucket_probe``) are wrapped where it looks them up.
    ``install("ingest")`` marks the phases of ``ingest_neardup_batch``
    instead: the functions it imports when called start the phase they
    begin, in the ``Phases`` the caller puts in ``self.phases``.  Both
    modes wrap the checkpoint catalog.  ``remove`` restores every attribute
    ``install`` replaced.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []
        self.captured: dict[str, list] = {}
        self.phases: Phases | None = None
        self._table: list[str] = []

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def remove(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def install(self, mode: str = "dedupe") -> None:
        import importlib

        from pyspark.sql import DataFrameWriter

        t = self.tracer

        def mod(name):
            return importlib.import_module(f"{PKG}.{name}")

        ckpt = mod("sources.checkpoint")

        def spanned(name, layer, keep=None):
            def make(orig):
                def wrapper(*a, **k):
                    with t.span(name, layer):
                        out = orig(*a, **k)
                    if keep:
                        self.captured.setdefault(keep, []).append((a, k, out))
                    return out
                return wrapper
            return make

        def phase(name):
            def make(orig):
                def wrapper(*a, **k):
                    if self.phases is not None:
                        self.phases.enter(name)
                    return orig(*a, **k)
                return wrapper
            return make

        if mode == "dedupe":
            dedupe = mod("plans.dedupe")
            # stage builders: mostly lazy, but any eager work they do is theirs
            for fn, layer in (("build_signatures", "functions.signatures"),
                              ("candidate_pairs", "operators.lsh"),
                              ("verify_pairs", "operators.verify")):
                self._patch(dedupe, fn, spanned(f"{layer}.build", layer))
            self._patch(dedupe, "connected_components",
                        spanned("operators.cluster", "operators.cluster", keep="cc"))
            self._patch(dedupe, "hot_bucket_probe",
                        spanned("operators.lsh.probe", "operators.lsh", keep="probe"))
        else:
            # ingest_neardup_batch imports these when it runs, in this order
            inc = mod("streaming.incremental")
            for owner, fn, name in (
                (mod("plans.dedupe"), "build_signatures", "sign"),
                (inc, "_update_url_bloom", "bloom"),
                (mod("operators.lsh"), "explode_bands", "band_join"),
                (mod("operators.verify"), "verify_pairs", "verify"),
                (inc, "read_clusters", "cc"),
                (mod("operators.cluster"), "connected_components", "cc"),
            ):
                self._patch(owner, fn, phase(name))

        def write(verb):
            def make(orig):
                def wrapper(cat, df, table, *a, **k):
                    if verb == "append" and table in INGEST_COMMITS and self.phases:
                        self.phases.enter("append")
                    self._table.append(table)
                    try:
                        with t.span(f"sources.checkpoint.{verb}", "sources.checkpoint",
                                    table=table):
                            return orig(cat, df, table, *a, **k)
                    finally:
                        self._table.pop()
                return wrapper
            return make

        def parquet(orig):
            # writing a stage table is where the stage's lazy plan runs
            def wrapper(writer, path, *a, **k):
                if not self._table:
                    return orig(writer, path, *a, **k)
                table = self._table[-1]
                stage = mode == "dedupe" and table in STAGE_TABLES
                layer = STAGE_TABLES[table] if stage else "sources.checkpoint"
                name = layer if stage else "sources.checkpoint.data"
                with t.span(name, layer, table=table):
                    return orig(writer, path, *a, **k)
            return wrapper

        self._patch(ckpt.ParquetCatalog, "write", write("write"))
        self._patch(ckpt.ParquetCatalog, "append", write("append"))
        self._patch(DataFrameWriter, "parquet", parquet)
        for name in CATALOG_CALLS:
            self._patch(ckpt.ParquetCatalog, name,
                        spanned(f"sources.checkpoint.{name}", "sources.checkpoint"))
        for name in LINEAGE_CALLS:
            self._patch(ckpt.ParquetCatalog, name,
                        spanned("sources.checkpoint.lineage", "sources.checkpoint"))


# --- event log ------------------------------------------------------------


@dataclass
class SpanWork:
    """Spark work charged to one span from its event-log task metrics."""

    jobs: int = 0
    tasks: int = 0
    task_s: list = field(default_factory=list)
    jvm_cpu_s: float = 0.0
    python_s: float = 0.0
    python_sent_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0

    def add(self, o: "SpanWork") -> None:
        for k, v in vars(o).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)

    @property
    def task_skew(self) -> float:
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 0.0


def _events(path: str):
    """Events of every (uncompressed, non-rolling) log file in ``path``."""
    for name in sorted(os.listdir(path)):
        f = os.path.join(path, name)
        if not os.path.isfile(f):
            continue
        with open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _span_of(props: dict | None) -> int | None:
    d = (props or {}).get("spark.job.description") or ""
    return int(d[len(DESC_PREFIX):]) if d.startswith(DESC_PREFIX) else None


def parse_eventlog(path: str) -> dict[int, SpanWork]:
    """Span id -> work, from the event logs in directory ``path``.

    Stages are charged to the span named by the description their
    submission carried (a stage a later job skips is not charged twice);
    jobs to the span of their own start event."""
    work: dict[int, SpanWork] = {}
    stage_span: dict[int, int] = {}
    for e in _events(path):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            sid = _span_of(e.get("Properties"))
            if sid is not None:
                work.setdefault(sid, SpanWork()).jobs += 1
        elif ev == "SparkListenerStageSubmitted":
            sid = _span_of(e.get("Properties"))
            if sid is not None:
                stage_span[e["Stage Info"]["Stage ID"]] = sid
        elif ev == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if sid is None or not tm:
                continue
            w = work.setdefault(sid, SpanWork())
            ti = e["Task Info"]
            acc = {a.get("Name"): a.get("Update") for a in ti.get("Accumulables", [])}
            w.tasks += 1
            w.task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
            w.jvm_cpu_s += tm["Executor CPU Time"] / 1e9
            w.python_s += float(acc.get("time to run Python workers") or 0) / 1e3
            w.python_sent_b += int(acc.get("data sent to Python workers") or 0)
            sr = tm["Shuffle Read Metrics"]
            w.shuffle_read_b += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            w.shuffle_write_b += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            w.spill_b += tm["Disk Bytes Spilled"]
            w.output_b += tm["Output Metrics"]["Bytes Written"]
    return work


def work_of(spans: list[Span], work: dict[int, SpanWork]) -> SpanWork:
    total = SpanWork()
    for s in spans:
        if s.id in work:
            total.add(work[s.id])
    return total
