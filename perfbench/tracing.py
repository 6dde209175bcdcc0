"""Spans for the traced run, Spark stage metrics per span, and the
one-core engine replay.

Spans are recorded by the benchmark around its own calls into the
program; nothing inside ``lacspark`` is changed.  Each span sets its
own Spark job group, so the stages a span ran can be read back from
the driver's local REST API when the run ends.  Jobs that Spark
runs under a group of its own (streaming micro-batches) are assigned
to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
import uuid
from contextlib import contextmanager
from datetime import datetime

SPAN_MEASURES = ("wall_s", "jobs", "tasks", "executor_run_s",
                 "core_idle_frac", "shuffle_bytes")


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and
    leave the job group alone, so the untraced path is the plain
    program call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # job groups must not collide with an earlier tracer's
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "group": f"{self._prefix}-{len(self.spans)}",
              "epoch0": time.time(), "t0": time.perf_counter(),
              "epoch1": None, "t1": None, "stream": []}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            sp["epoch1"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def note_stream(self, progress: list[dict]) -> None:
        """Attach one finished streaming query's progress to the open
        span."""
        if self._stack:
            self._stack[-1]["stream"].append(progress)


@contextmanager
def spans_around(tracer: Tracer, targets: list[tuple]):
    """While open, run every call of each ``(module, attribute,
    name_of)`` target in a span named ``name_of(*args, **kwargs)``.
    The attribute is looked up on the module at call time by the
    program, so wrapping it there is enough; nothing is wrapped when
    the tracer is off."""
    if not tracer.enabled:
        yield
        return
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]

    def wrap(fn, name_of):
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return wrapper

    for (mod, attr, fn), (_, _, name_of) in zip(originals, targets):
        setattr(mod, attr, wrap(fn, name_of))
    try:
        yield
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)


@contextmanager
def streaming_progress(tracer: Tracer):
    """Hand each streaming query's progress to the tracer when the
    program waits for it to finish."""
    from pyspark.sql.streaming.query import StreamingQuery

    if not tracer.enabled:
        yield
        return
    original = StreamingQuery.awaitTermination

    def await_and_record(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        tracer.note_stream([json.loads(p.json) if hasattr(p, "json") else p
                            for p in self.recentProgress])
        return out

    StreamingQuery.awaitTermination = await_and_record
    try:
        yield
    finally:
        StreamingQuery.awaitTermination = original


def _rest(sc, path: str):
    app = sc.applicationId
    with urllib.request.urlopen(
            f"{sc.uiWebUrl}/api/v1/applications/{app}/{path}",
            timeout=30) as resp:
        return json.load(resp)


def fetch_jobs_and_stages(sc, settle_s: float = 15.0):
    """All jobs and stage attempts of the application, once the
    status listener has caught up with every finished job."""
    deadline = time.perf_counter() + settle_s
    seen = -1
    while True:
        jobs = _rest(sc, "jobs")
        busy = any(j["status"] == "RUNNING" for j in jobs)
        if (not busy and len(jobs) == seen) or \
                time.perf_counter() > deadline:
            break
        seen = len(jobs)
        time.sleep(0.2)
    return jobs, _rest(sc, "stages")


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def attribute(spans: list[dict], jobs: list[dict],
              stages: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, tasks, executor run time and shuffle bytes
    of the stages its jobs ran (self, not including child spans)."""
    by_group = {sp["group"]: sp for sp in spans}
    ran = {(s["stageId"], s["attemptId"]): s for s in stages
           if s["status"] in ("COMPLETE", "FAILED")}
    owner: dict[int, int] = {}  # stageId -> first job that listed it
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = {sp["id"]: {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
                      "shuffle_bytes": 0} for sp in spans}
    job_span: dict[int, int] = {}
    for j in jobs:
        sp = by_group.get(j.get("jobGroup"))
        if sp is None and "submissionTime" in j:
            t = _epoch(j["submissionTime"])
            open_ = [s for s in spans
                     if s["epoch0"] - 0.002 <= t <= s["epoch1"] + 0.002]
            # innermost: the latest-starting open span
            sp = max(open_, key=lambda s: s["epoch0"], default=None)
        if sp is None:
            continue
        job_span[j["jobId"]] = sp["id"]
        out[sp["id"]]["jobs"] += 1
    for (sid, _), s in ran.items():
        span_id = job_span.get(owner.get(sid))
        if span_id is None:
            continue
        m = out[span_id]
        m["tasks"] += s["numTasks"]
        m["executor_run_s"] += s["executorRunTime"] / 1000.0
        m["shuffle_bytes"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
    return out


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    own = {sp["id"]: sp["t1"] - sp["t0"] for sp in spans}
    for sp in spans:
        if sp["parent"] is not None and sp["parent"] in own:
            own[sp["parent"]] -= sp["t1"] - sp["t0"]
    return own


def unit_layer_metrics(unit_spans: list[dict], attributed: dict[int, dict],
                       cores: int) -> dict[str, dict[str, float]]:
    """Sum the child spans of one unit by name into the six span
    measures."""
    own = self_seconds(unit_spans)
    layers: dict[str, dict[str, float]] = {}
    for sp in unit_spans:
        if sp["parent"] is None:
            continue
        m = layers.setdefault(sp["name"], {k: 0.0 for k in SPAN_MEASURES})
        m["wall_s"] += own[sp["id"]]
        for k in ("jobs", "tasks", "executor_run_s", "shuffle_bytes"):
            m[k] += attributed[sp["id"]][k]
    for m in layers.values():
        m["core_idle_frac"] = (1.0 - m["executor_run_s"]
                               / (m["wall_s"] * cores)
                               if m["wall_s"] > 0 else 0.0)
    return layers


def median_layers(per_unit: list[dict[str, dict[str, float]]]
                  ) -> dict[str, float]:
    """Median over traced units of every ``<span>.<measure>``."""
    names = {n for u in per_unit for n in u}
    out = {}
    for n in names:
        for k in SPAN_MEASURES:
            out[f"{n}.{k}"] = statistics.median(
                u.get(n, {}).get(k, 0.0) for u in per_unit)
    return out


def unattributed_seconds(unit_spans: list[dict]) -> float:
    """The part of a unit's root spans that no child span covers."""
    roots = {sp["id"] for sp in unit_spans if sp["parent"] is None}
    return sum((sp["t1"] - sp["t0"]) * (1 if sp["id"] in roots else -1)
               for sp in unit_spans
               if sp["id"] in roots or sp["parent"] in roots)


def stream_totals(unit_spans: list[dict]) -> tuple[int, int]:
    """Micro-batches run and state rows held at the end, summed over
    the streaming queries of one unit."""
    batches = rows = 0
    for sp in unit_spans:
        for progress in sp["stream"]:
            batches += len(progress)
            if progress:
                rows += sum(op.get("numRowsTotal", 0) for op in
                            progress[-1].get("stateOperators", []))
    return batches, rows


def engine_replay(batches: list[list[str]]) -> dict[str, float]:
    """Tag each batch in-process on one core with one ``run_batch``
    call, as the workload's tag operator batches its rows, and time the
    engine's layers."""
    from lacspark.encoding import Encoder
    from lacspark.engine import LacEngine
    from lacspark.net import BiGruCrf
    from lacspark.segmenter import DagSegmenter

    eng = LacEngine()
    spent = {"cut": 0.0, "encode": 0.0, "decode": 0.0, "rank": 0.0,
             "run_batch": 0.0, "extract": 0.0}
    depth = dict.fromkeys(spent, 0)
    targets = [(DagSegmenter, "cut", "cut"),
               (Encoder, "encode_mixed", "encode"),
               (Encoder, "encode_chars", "encode"),
               (BiGruCrf, "decode", "decode"),
               (BiGruCrf, "rank", "rank"),
               (LacEngine, "run_batch", "run_batch"),
               (LacEngine, "extract", "extract")]

    def timed(fn, key):
        def wrapper(*args, **kwargs):
            # run_batch recurses once to dedupe: time the outer call
            outer = depth[key] == 0
            depth[key] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                depth[key] -= 1
                if outer:
                    spent[key] += time.perf_counter() - t0
        return wrapper

    originals = [(cls, attr, getattr(cls, attr)) for cls, attr, _ in targets]
    for cls, attr, key in targets:
        setattr(cls, attr, timed(getattr(cls, attr), key))
    calls = rows = uniq = chars = 0
    try:
        for batch in batches:
            for res in eng.run_batch(batch, mode="rank"):
                eng.extract(res, window=8)
            calls += 1
            rows += len(batch)
            uniq += len(set(batch))
            chars += sum(map(len, batch))
    finally:
        for cls, attr, fn in originals:
            setattr(cls, attr, fn)
    inner = spent["cut"] + spent["encode"] + spent["decode"] + spent["rank"]
    busy = spent["run_batch"] + spent["extract"]
    return {
        "segmenter.cut.s": spent["cut"],
        "encoding.encode.s": spent["encode"],
        "net.decode.s": spent["decode"],
        "net.rank.s": spent["rank"],
        "engine.run_batch.self_s": spent["run_batch"] - inner,
        "engine.extract.s": spent["extract"],
        "engine.run_batch.unique_ratio": uniq / rows if rows else 0.0,
        "engine.rows_per_call": rows / calls if calls else 0.0,
        "engine.chars_per_s": chars / busy if busy else 0.0,
    }
