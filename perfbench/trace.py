"""Tracing from outside the package: spans around public calls, and Spark's
own event log grouped by the job description each span sets.

A span names a layer. Entering one sets the Spark job description to
``perfbench|j<job>|<layer>`` and leaving it restores the previous one, so
every Spark job the layer starts is attributable in the event log. A span's
self time is its duration minus the time its child spans cover.

Hooks, all attached from the benchmark's side:

- round spans from ``screen``'s public ``before``/``after`` callbacks;
- fit spans by wrapping the module attribute
  ``importance_dist.feature_importance_partitioned``, which ``screen``
  re-imports every round; the wrapper first asks the frame for its labels
  under a ``labels`` span, which is the call the fit would make first (and
  in round 1 the one that fills the loop cache), so the fit span holds the
  fit alone;
- selection spans from a ``SelectionMode`` delegating to ``SelectTop``;
- checkpoint spans from a ``RoundCheckpoint`` subclass.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Iterator, Optional

PREFIX = "perfbench"

# the layers whose self time is named work; the rest of a traced job is
# driver glue (screen's per-round projections and bookkeeping, the sink's
# plan)
NAMED_LAYERS = ("plan", "labels", "fit", "select", "checkpoint", "sink", "save")


class Untraced:
    """The hooks of a timed run: the plain public calls, no spans."""

    job = 0

    def span(self, name: str):
        return contextlib.nullcontext()

    def screen_kwargs(self, reduced_size: int) -> dict:
        return {"reduced_size": reduced_size}

    def checkpoint(self, root: str):
        from featurescreening_jl_spark import RoundCheckpoint

        return RoundCheckpoint(root)

    def patched(self):
        return contextlib.nullcontext()

    def close_open(self) -> None:
        pass


class Tracer(Untraced):
    """Spans in memory, one list for the whole traced run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._rounds: list[dict] = []
        self.job = 0

    # -- spans -----------------------------------------------------------------

    def begin(self, name: str) -> dict:
        rec = {
            "name": name,
            "job": self.job,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "prev_desc": self.sc.getLocalProperty("spark.job.description"),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(f"{PREFIX}|j{self.job}|{name}")
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        if not self._stack or self._stack[-1] is not rec:
            raise RuntimeError(f"span {rec['name']} closed out of order")
        self._stack.pop()
        self.sc.setJobDescription(rec.pop("prev_desc"))

    def close_open(self) -> None:
        """End the spans a failed job left open (a round whose ``after``
        callback never ran)."""
        while self._stack:
            self.end(self._stack[-1])
        self._rounds.clear()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)

    # -- screen hooks --------------------------------------------------------

    def screen_kwargs(self, reduced_size: int) -> dict:
        return {
            "selection_mode": _traced_select(reduced_size, self),
            "before": self._before,
            "after": self._after,
        }

    def _before(self, selected, new) -> None:
        first = not any(s["name"] == "round" and s["job"] == self.job
                        for s in self.spans)
        rec = self.begin("round")
        rec["first"] = first
        self._rounds.append(rec)

    def _after(self, selected) -> None:
        rec = self._rounds.pop()
        if rec["first"]:  # the loop cache is filled during round 1
            rec["cache_mb"] = _cached_mb(self.sc)
        self.end(rec)

    def checkpoint(self, root: str):
        from featurescreening_jl_spark import RoundCheckpoint

        tracer = self

        class TracedCheckpoint(RoundCheckpoint):
            def save_round(self, i, selected, importances) -> None:
                with tracer.span("checkpoint"):
                    super().save_round(i, selected, importances)

        return TracedCheckpoint(root)

    @contextlib.contextmanager
    def patched(self) -> Iterator[None]:
        from featurescreening_jl_spark.operators import importance_dist

        orig = importance_dist.feature_importance_partitioned

        def traced_fit(ff, *args, **kwargs):
            with self.span("labels"):
                ff.distinct_labels()
            with self.span("fit") as rec:
                pairs = orig(ff, *args, **kwargs)
            rec["split_count"] = sum(c for _, c in pairs)
            return pairs

        importance_dist.feature_importance_partitioned = traced_fit
        try:
            yield
        finally:
            importance_dist.feature_importance_partitioned = orig


def _traced_select(size: int, tracer: Tracer):
    """A SelectionMode that delegates to ``SelectTop(size, strict=False)`` —
    what ``screen(reduced_size=size)`` builds — inside a ``select`` span."""
    from featurescreening_jl_spark import SelectionMode, SelectTop

    class TracedSelect(SelectionMode):
        def __init__(self) -> None:
            self.inner = SelectTop(size, strict=False)
            self.size = self.inner.size
            self.strict = self.inner.strict

        def select_from(self, rng, collection):
            with tracer.span("select") as rec:
                kept = self.inner.select_from(rng, collection)
            rec["candidates"] = len(collection)
            rec["kept"] = len(kept)
            return kept

    return TracedSelect()


def _cached_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -- span arithmetic -------------------------------------------------------------


def self_times(spans: list[dict]) -> list[tuple[dict, float]]:
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return [(s, s["end"] - s["start"] - child.get(s["id"], 0.0)) for s in spans]


def span_summary(spans: list[dict], job: int) -> dict[str, float]:
    """Per-layer figures of one traced job."""
    own = [(s, t) for s, t in self_times(spans) if s["job"] == job]
    by_name: dict[str, float] = {}
    for s, t in own:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + t
    dur = {s["name"]: 0.0 for s, _ in own}
    for s, _ in own:
        dur[s["name"]] += s["end"] - s["start"]
    rounds = [s for s, _ in own if s["name"] == "round"]
    selects = [s for s, _ in own if s["name"] == "select"]
    job_span = next(s for s, _ in own if s["name"] == "job")
    job_s = job_span["end"] - job_span["start"]
    out = {
        "job_s": job_s,
        "coverage": sum(by_name.get(n, 0.0) for n in NAMED_LAYERS) / job_s,
        "plan_s": dur.get("plan", 0.0),
        "labels_s": dur.get("labels", 0.0),
        "fit_s": dur.get("fit", 0.0),
        "select_s": dur.get("select", 0.0),
        "checkpoint_s": dur.get("checkpoint", 0.0),
        "sink_s": dur.get("sink", 0.0),
        "save_s": dur.get("save", 0.0),
        "rounds": float(len(rounds)),
        "round1_s": rounds[0]["end"] - rounds[0]["start"] if rounds else 0.0,
        "round_s": statistics.median(r["end"] - r["start"] for r in rounds[1:])
        if len(rounds) > 1 else 0.0,
        "cache_mb": rounds[0].get("cache_mb", 0.0) if rounds else 0.0,
        "split_count": float(sum(s.get("split_count", 0) for s, _ in own)),
        "kept_ratio": sum(s["kept"] for s in selects)
        / sum(s["candidates"] for s in selects) if selects else 0.0,
        "checkpoints": float(sum(1 for s, _ in own if s["name"] == "checkpoint")),
    }
    return out


# -- Spark event log -------------------------------------------------------------

_STAGE_SUMS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.output.bytesWritten": ("output_mb", 2**-20),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 2**-20),
}


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum stage metrics and count jobs per job description.

    Needs an uncompressed, non-rolling log
    (``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
    A stage is attributed to the description it was submitted under.
    """
    desc_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(desc: Optional[str]) -> dict[str, float]:
        return out.setdefault(desc or "", {})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            props = ev.get("Properties") or {}
            if kind == "SparkListenerJobStart":
                b = bucket(props.get("spark.job.description"))
                b["jobs"] = b.get("jobs", 0.0) + 1
            elif kind == "SparkListenerStageSubmitted":
                desc_of_stage[ev["Stage Info"]["Stage ID"]] = (
                    props.get("spark.job.description") or ""
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                b = bucket(desc_of_stage.get(info["Stage ID"]))
                b["tasks"] = b.get("tasks", 0.0) + info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    hit = _STAGE_SUMS.get(acc.get("Name"))
                    if hit is None:
                        continue
                    key, scale = hit
                    b[key] = b.get(key, 0.0) + float(acc["Value"]) * scale
    return out


def job_layer(events: dict, job: int, layer: str, key: str) -> float:
    """One event-log figure of one traced job's layer; ``layer='*'`` sums
    every layer of the job."""
    if layer == "*":
        tag = f"{PREFIX}|j{job}|"
        return sum(v.get(key, 0.0) for d, v in events.items() if d.startswith(tag))
    return events.get(f"{PREFIX}|j{job}|{layer}", {}).get(key, 0.0)
