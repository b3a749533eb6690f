"""Spans around the engine's layer boundaries, and Spark stage metrics per span.

The engine is lazy: a stage's plan runs where ``CheckpointCatalog.write``
materializes it, and the curation CLI's stages run between consecutive
operator calls. So the spans sit at those boundaries, installed at run time
from the benchmark's own files (the engine is not edited):

- ``entry``: the workload's run_pipeline or run_curation call;
- ``stage``: ``CheckpointCatalog.run_stage`` (one catalog stage);
- ``stage_metrics``: the ``extra_metrics`` callback a stage passes in;
- ``write``: ``CheckpointCatalog.write`` (parquet write + lineage count);
- ``curation``: one run_curation stage, from the call of its operator to
  the call of the next stage's operator (the last one runs to the return).

Every span sets its own Spark job group, so the jobs it triggers — and
through them the stages in Spark's status store — attach to it.
"""

from __future__ import annotations

import contextlib
import importlib
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# run_curation's stages, keyed by the operator that opens each one; the
# module attribute is what run_curation imports at call time
CURATION_MARKERS = (
    ("simhash_spark.operators.textops", "quality_filter", "quality_filter"),
    ("simhash_spark.operators.curation", "pii_scrub", "pii_scrub"),
    ("simhash_spark.operators.dedup", "exact_dedup", "exact_dedup"),
    ("simhash_spark.plans.text_dedup", "text_near_dup_clusters", "near_dup"),
    ("simhash_spark.operators.curation", "stratified_sample", "sample"),
)


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """In-memory span recorder; spans are written out by the caller at the
    end of the run (``as_records``)."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, kind: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, kind, parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{kind}:{name}")
        return s

    def close(self, span: Span) -> None:
        while self._stack:  # closing a span closes any still-open children
            top = self._stack.pop()
            top.end = time.perf_counter()
            if top is span:
                break
        if self._stack:
            p = self._stack[-1]
            self.sc.setJobGroup(p.group, f"{p.kind}:{p.name}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        s = self.open(name, kind)
        try:
            yield s
        finally:
            self.close(s)

    def top(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans (children
        run sequentially on one thread, so their union is their sum, clipped
        to the parent's interval)."""
        covered = 0.0
        for c in self.children(span):
            lo, hi = max(c.start, span.start), min(c.end or c.start, span.end or c.start)
            covered += max(0.0, hi - lo)
        return span.duration - covered

    def as_records(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "kind": s.kind,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                **s.attrs,
            }
            for s in self.spans
        ]


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the catalog's run_stage/write and run_curation's stage operators
    for the duration of the block; everything is restored on exit."""
    from simhash_spark.sources.catalog import CheckpointCatalog

    orig_run_stage, orig_write = CheckpointCatalog.run_stage, CheckpointCatalog.write

    def run_stage(self, stage, input_fingerprint, compute, extra_metrics=None, bucket_by=None):
        if extra_metrics is not None:
            inner = extra_metrics

            def extra_metrics():
                with tracer.span(stage, "stage_metrics"):
                    return inner()

        with tracer.span(stage, "stage"):
            return orig_run_stage(self, stage, input_fingerprint, compute, extra_metrics, bucket_by=bucket_by)

    def write(self, stage, df, input_fingerprint, extra=None, bucket_by=None):
        with tracer.span(stage, "write") as s:
            out = orig_write(self, stage, df, input_fingerprint, extra, bucket_by=bucket_by)
        m = self.manifest(stage) or {}
        s.attrs.update(
            n_rows=m.get("n_rows", 0),
            bytes=sum(p["bytes"] for p in m.get("partitions", [])),
            data_write_s=m.get("wall_ms", 0) / 1000.0,
        )
        return out

    patched = [(CheckpointCatalog, "run_stage", orig_run_stage), (CheckpointCatalog, "write", orig_write)]
    CheckpointCatalog.run_stage, CheckpointCatalog.write = run_stage, write
    for mod_name, attr, stage in CURATION_MARKERS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        patched.append((mod, attr, orig))
        setattr(mod, attr, _marker(tracer, stage, orig))
    try:
        yield tracer
    finally:
        for owner, attr, orig in patched:
            setattr(owner, attr, orig)


def _marker(tracer: Tracer, stage: str, fn):
    def call(*args, **kwargs):
        top = tracer.top()
        if top is not None and top.kind == "curation":
            tracer.close(top)
        tracer.open(stage, "curation")
        return fn(*args, **kwargs)

    return call


# ------------------------------------------------------- status-store reader

STAGE_FIELDS = (
    "executorRunTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
    "numFailedTasks",
)


def group_stage_data(spark: SparkSession, group: str) -> dict:
    """Totals over the stages of every job in one job group, read from the
    AppStatusStore (no UI, no REST). SKIPPED stages (a reused shuffle) count
    as zero. ``skew`` is max / median task run time of the group's heaviest
    stage; ``jobs`` counts the group's jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = {f: 0 for f in STAGE_FIELDS}
    out.update(jobs=len(job_ids), skew=1.0)
    heaviest = -1
    for sid in sorted(stage_ids):
        seq = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), True, quantiles)
        for k in range(seq.size()):
            sd = seq.apply(k)
            if sd.status().toString() == "SKIPPED":
                continue
            for f in STAGE_FIELDS:
                out[f] += int(getattr(sd, f)())
            dist = sd.taskMetricsDistributions()
            if sd.executorRunTime() > heaviest and dist.isDefined():
                heaviest = sd.executorRunTime()
                run = dist.get().executorRunTime()
                med, mx = float(run.apply(0)), float(run.apply(1))
                out["skew"] = mx / med if med > 0 else 1.0
    return out
