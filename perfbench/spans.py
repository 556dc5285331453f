"""In-memory span tracer that wraps the program's public functions from outside.

``Tracer.install()`` replaces each traced function with a wrapper in every
loaded ``marketpipe_spark`` module that holds it, so aliases such as
``marketpipe_spark.loader.read_bars`` (imported from ``lake``) and
``lake.tune`` (imported from ``session``) are caught too. Functions that
import their collaborators inside the body (``incremental_job``) resolve the
wrapped module attributes at call time. ``uninstall()`` puts the originals
back.

Each span gets its own Spark job group, so the jobs it launched can be
looked up afterwards with ``statusTracker``. Spans stay in memory; the
caller reads them at the end. A layer's self time is its duration minus the
time its child spans cover.

Lazy layers return a DataFrame whose work happens later. For those, the
wrapper also runs the returned plan once to the ``noop`` sink; that run is
recorded as a span named ``<layer>.exec`` and flagged as extra work, so it
is excluded from every parent's self time and from the op's wall time.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import sys
import time


@dataclasses.dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int
    t0: float
    t1: float = 0.0
    extra: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


#: (module, attribute path) of every traced function, named by layer.
TARGETS = [
    ("marketpipe_spark.lake", "write_bars"),
    ("marketpipe_spark.lake", "read_bars"),
    ("marketpipe_spark.lake", "upsert_bars"),
    ("marketpipe_spark.loader", "load_ohlcv"),
    ("marketpipe_spark.operators.validation", "validate_bars"),
    ("marketpipe_spark.operators.validation", "split_valid"),
    ("marketpipe_spark.operators.resample", "resample"),
    ("marketpipe_spark.streaming.incremental", "incremental_job"),
    ("marketpipe_spark.streaming.incremental", "CheckpointStore.load"),
    ("marketpipe_spark.streaming.incremental", "CheckpointStore.save"),
    ("marketpipe_spark.control", "JobsStore.create"),
    ("marketpipe_spark.control", "JobsStore.start"),
    ("marketpipe_spark.control", "JobsStore.complete"),
    ("marketpipe_spark.control", "MetricsStore.record"),
    ("marketpipe_spark.plans.views", "ensure_views"),
    ("marketpipe_spark.plans.views", "query"),
    ("marketpipe_spark.manifest", "build_manifest"),
    ("marketpipe_spark.manifest", "read_pruned"),
    ("marketpipe_spark.session", "tune"),
]

#: Layers whose return value is a lazy plan; the traced run executes it once
#: more to the noop sink and records ``<name>.exec``. ``split_valid`` calls
#: ``validate_bars`` through the module attribute, so the validation rules
#: run there as ``operators.validation.validate_bars.exec``.
LAZY = {"operators.validation.validate_bars", "operators.resample.resample"}


def layer_name(module: str, attr: str) -> str:
    return f"{module.removeprefix('marketpipe_spark.')}.{attr}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time covered by its direct children.

    Children of one span never overlap (one client thread), so covered time
    is the sum of their durations.
    """
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + s.dur
    return {s.sid: s.dur - covered.get(s.sid, 0.0) for s in spans}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- install / uninstall -------------------------------------------------
    def install(self) -> None:
        for module, attr in TARGETS:
            owner = importlib.import_module(module)
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            original = getattr(owner, parts[-1])
            wrapped = self._wrap(layer_name(module, attr), original)
            self._patch(owner, parts[-1], wrapped)
            if len(parts) == 1:  # module-level function: patch every alias
                for mod_name, mod in list(sys.modules.items()):
                    if mod is owner or not mod_name.startswith("marketpipe_spark"):
                        continue
                    for name, value in list(vars(mod).items()):
                        if value is original:
                            self._patch(mod, name, wrapped)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    def _patch(self, owner, name, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, extra: bool = False) -> "_SpanCtx":
        return _SpanCtx(self, name, extra)

    def _open(self, name: str, extra: bool) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, name, self.op, 0.0, extra=extra)
        self.spans.append(s)
        self._stack.append(s)
        self.spark.sparkContext.setJobGroup(f"perfbench-span-{s.sid}", name)
        s.t0 = time.perf_counter()
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(f"perfbench-span-{top.sid}", top.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name in LAZY:
                tracer.exec_noop(name, out)
            return out

        return wrapper

    def exec_noop(self, name: str, df) -> None:
        """Extra work: run the DataFrame ``df`` once to the noop sink."""
        with self.span(f"{name}.exec", extra=True):
            df.write.format("noop").mode("overwrite").save()

    def span_cost(self, n: int = 200) -> float:
        """Seconds one empty span adds to the traced program (timestamps and
        the Spark job-group switches); spans per op times this is the
        tracing overhead per op."""
        enabled, op, kept = self.enabled, self.op, len(self.spans)
        self.enabled, self.op = True, -2
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        self.enabled, self.op = enabled, op
        del self.spans[kept:]
        return cost

    # -- Spark counts --------------------------------------------------------
    def collect_counts(self, spans: list[Span]) -> None:
        """Fill jobs/stages/tasks of ``spans`` from the status tracker.

        Call soon after the spans close: the tracker keeps a bounded number
        of finished jobs and stages.
        """
        st = self.spark.sparkContext.statusTracker()
        for s in spans:
            for jid in st.getJobIdsForGroup(f"perfbench-span-{s.sid}"):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        s.stages += 1
                        s.tasks += stage.numTasks


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, extra: bool):
        self.tracer, self.name, self.extra = tracer, name, extra
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.extra)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span)


def subtree(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span below it (spans are in open order)."""
    inside = {root}
    out = []
    for s in spans:
        if s.sid == root or s.parent in inside:
            inside.add(s.sid)
            out.append(s)
    return out
