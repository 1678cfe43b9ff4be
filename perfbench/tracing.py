"""Per-layer tracing from the benchmark's side of the API.

``Tracer.install`` replaces a public function, at the name its callers
look it up by, with a wrapper that records a span: name, start, end and
parent. A function that returns a lazy frame gets its span from the
caller instead (``span``/``Tracer.span`` with ``forced``), around the
call and the action that runs it. While a span is open its Spark job
group is set, so every job is owned by the innermost open span. ``Tracer.resolve`` reads the jobs
and stages of each span from the in-process status store (filled even
with ``spark.ui.enabled=false``) once the run has finished.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import statistics
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"
#: jobs the tracer itself runs (row counts) are kept out of every span
TRACER_GROUP = "perfbench-tracer"


@dataclasses.dataclass
class Span:
    name: str
    group: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    child_s: float = 0.0
    forced: bool = False
    new_rows_frame: object = None
    counters: dict = dataclasses.field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def span(tracer: "Tracer | None", name: str, forced: bool = False):
    """``tracer.span`` when there is a tracer, else a no-op context."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, forced)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._open: list[Span] = []

    # -- recording ---------------------------------------------------------------

    def _enter(self, name: str, forced: bool = False) -> Span:
        parent = self._open[-1] if self._open else None
        span = Span(name, f"{GROUP_PREFIX}{len(self.spans)}", 0.0, parent, forced=forced)
        self.spans.append(span)
        self._open.append(span)
        self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._open.pop()
        if span.parent is not None:
            span.parent.child_s += span.wall_s
            self.sc.setJobGroup(span.parent.group, span.parent.name)
        else:
            self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, name: str, forced: bool = False):
        """A span around the ``with`` body, when tracing is on."""
        opened = self._enter(name, forced) if self.enabled else None
        try:
            yield opened
        finally:
            if opened is not None:
                self._exit(opened)

    def install(self, owner: object, attr: str, name: str, rows_arg: int | None = None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``rows_arg`` names
        the positional argument (after ``self``) holding the DataFrame of
        new rows, counted after the run for the write amplification."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            span = tracer._enter(name)
            if rows_arg is not None:
                span.new_rows_frame = args[rows_arg]
            try:
                return original(*args, **kwargs)
            finally:
                tracer._exit(span)

        setattr(owner, attr, wrapper)

    # -- counters ----------------------------------------------------------------

    def resolve(self) -> None:
        """Attach Spark counters to every span: its jobs, and the stages
        those jobs ran (a stage reused by a later job counts once, for the
        job that first listed it)."""
        self.sc.setJobGroup(TRACER_GROUP, "row counts")
        for span in self.spans:
            if span.new_rows_frame is not None:
                span.counters["new_rows"] = span.new_rows_frame.count()
                span.new_rows_frame = None
        self.sc._jsc.clearJobGroup()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_owner: dict[int, str] = {}
        jobs_per_group: dict[str, int] = defaultdict(int)
        for i in sorted(range(jobs.size()), key=lambda i: jobs.apply(i).jobId()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined():
                continue
            group = group.get()
            jobs_per_group[group] += 1
            ids = job.stageIds()
            for s in range(ids.size()):
                stage_owner.setdefault(int(ids.apply(s)), group)
        per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        stages = store.stageList(None, False, False, self.sc._gateway.new_array(self.sc._jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            group = stage_owner.get(int(st.stageId()))
            if group is None or st.status().toString() == "SKIPPED":
                continue
            c = per_group[group]
            c["tasks"] += st.numTasks()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["output_bytes"] += st.outputBytes()
            c["output_records"] += st.outputRecords()
        for span in self.spans:
            span.counters["jobs"] = jobs_per_group.get(span.group, 0)
            for k in ("tasks", "executor_cpu_ms", "shuffle_bytes", "output_bytes", "output_records"):
                span.counters[k] = per_group.get(span.group, {}).get(k, 0.0)

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: medians over its calls of wall_s, self_s and every
        counter, and the call count. A name with forced calls (a lazy
        function timed together with an action) is summarised over those
        calls only."""
        by_name: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            by_name[s.name].append(s)
        out = {}
        for name, spans in by_name.items():
            forced = [s for s in spans if s.forced]
            spans = forced or spans
            row = {
                "calls": len(spans),
                "wall_s": statistics.median(s.wall_s for s in spans),
                "self_s": statistics.median(s.wall_s - s.child_s for s in spans),
            }
            for k in spans[0].counters:
                row[k] = statistics.median(s.counters[k] for s in spans)
            amp = [
                s.counters["output_records"] / s.counters["new_rows"]
                for s in spans
                if s.counters.get("new_rows")
            ]
            if amp:
                row["rows_written_per_new_row"] = statistics.median(amp)
            out[name] = row
        return out

    def dump(self, path: str) -> None:
        """Every span with its parent and counters, as JSON."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "parent": index.get(id(s.parent)),
                        "start": s.start,
                        "wall_s": s.wall_s,
                        "self_s": s.wall_s - s.child_s,
                        "forced": s.forced,
                        **s.counters,
                    }
                    for s in self.spans
                ],
                f,
                indent=1,
            )
