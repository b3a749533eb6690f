"""Per-layer metrics from one traced call's span records.

Each span record (spans.Tracer.as_records) carries ``spark``: the status-
store totals of the jobs in that span's own job group. A layer's numbers
sum over its spans and their descendants, leaving out ``stage_metrics``
subtrees, which are a layer of their own. Layers are named for modules.
"""

from __future__ import annotations

from spans import CURATION_MARKERS

# catalog stage name prefix -> layer
STAGE_LAYERS = (
    ("01_fingerprints", "fingerprint"),
    ("02_candidates", "candidates"),
    ("02b_", "substring"),
    ("03_verified", "verify"),
    ("04_clusters", "cluster"),
)
CURATION_STAGES = tuple(stage for _, _, stage in CURATION_MARKERS)

# every per-layer metric a traced run prints, with its unit
PER_LAYER = {
    "fingerprint.wall_s": "s",
    "fingerprint.task_run_s": "s",
    "fingerprint.rows_per_s": "rows/s",
    "fingerprint.task_skew": "ratio",
    "candidates.wall_s": "s",
    "candidates.shuffle_write_bytes": "bytes",
    "candidates.shuffle_read_bytes": "bytes",
    "candidates.spill_bytes": "bytes",
    "candidates.task_skew": "ratio",
    "candidates.pairs_out": "count",
    "candidates.useful_ratio": "ratio",
    "substring.wall_s": "s",
    "substring.anchors_out": "count",
    "substring.pairs_out": "count",
    "substring.shuffle_write_bytes": "bytes",
    "substring.task_skew": "ratio",
    "verify.wall_s": "s",
    "verify.shuffle_write_bytes": "bytes",
    "verify.pairs_out": "count",
    "cluster.wall_s": "s",
    "cluster.jobs": "count",
    "cluster.edges_in": "count",
    "cluster.shuffle_write_bytes": "bytes",
    "stage_metrics.wall_s": "s",
    "stage_metrics.shuffle_write_bytes": "bytes",
    "catalog.write_s": "s",
    "catalog.bytes_written": "bytes",
    **{f"{s}.wall_s": "s" for s in CURATION_STAGES},
    "curation.jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.busy_frac": "ratio",
    "memory.peak_rss_mb": "MB",
    "failed_op_frac": "ratio",
    "wall.rows_per_s": "rows/s",
    "setup.wall_s": "s",
    "trace.overhead_s": "s",
}
# measured by run.py over the whole run, not from one call's spans
RUN_LEVEL = ("memory.peak_rss_mb", "failed_op_frac", "trace.overhead_s", "wall.rows_per_s", "setup.wall_s")


def layer_of(stage: str) -> str | None:
    return next((layer for prefix, layer in STAGE_LAYERS if stage.startswith(prefix)), None)


class _Tree:
    def __init__(self, records: list[dict]):
        self.kids: dict[int, list[dict]] = {}
        for r in records:
            if r["parent"] is not None:
                self.kids.setdefault(r["parent"], []).append(r)

    def subtree(self, r: dict, skip_kind: str | None = "stage_metrics") -> list[dict]:
        out, todo = [], [r]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(k for k in self.kids.get(s["id"], []) if k["kind"] != skip_kind)
        return out


def _spark_sum(records: list[dict]) -> dict:
    tot = {"jobs": 0, "numTasks": 0, "numFailedTasks": 0, "executorRunTime": 0,
           "shuffleWriteBytes": 0, "shuffleReadBytes": 0, "memoryBytesSpilled": 0,
           "diskBytesSpilled": 0, "skew": 1.0}
    for r in records:
        sp = r.get("spark") or {}
        for k in tot:
            if k == "skew":
                tot[k] = max(tot[k], sp.get(k, 1.0))
            else:
                tot[k] += sp.get(k, 0)
    return tot


def _dur(r: dict) -> float:
    return r["end"] - r["start"]


def layer_metrics(records: list[dict], slots: int) -> dict[str, float]:
    """Every per-layer metric of PER_LAYER except RUN_LEVEL, from one entry
    call's spans. A layer the workload does not run reads 0."""
    tree = _Tree(records)
    m = {k: 0.0 for k in PER_LAYER if k not in RUN_LEVEL}
    rows: dict[str, int] = {}
    for layer in {layer for _, layer in STAGE_LAYERS}:
        stages = [r for r in records if r["kind"] == "stage" and layer_of(r["name"]) == layer]
        if not stages:
            continue
        members = [x for r in stages for x in tree.subtree(r)]
        sp = _spark_sum(members)
        metrics_time = sum(_dur(k) for r in stages for k in tree.kids.get(r["id"], []) if k["kind"] == "stage_metrics")
        m[f"{layer}.wall_s"] = sum(_dur(r) for r in stages) - metrics_time
        m[f"{layer}.task_run_s"] = sp["executorRunTime"] / 1000.0
        m[f"{layer}.shuffle_write_bytes"] = sp["shuffleWriteBytes"]
        m[f"{layer}.shuffle_read_bytes"] = sp["shuffleReadBytes"]
        m[f"{layer}.spill_bytes"] = sp["memoryBytesSpilled"] + sp["diskBytesSpilled"]
        m[f"{layer}.task_skew"] = sp["skew"]
        m[f"{layer}.jobs"] = sp["jobs"]
        for r in members:
            if r["kind"] == "write":
                rows[r["name"]] = rows.get(r["name"], 0) + r.get("n_rows", 0)

    def stage_rows(prefix: str) -> int:
        return sum(n for name, n in rows.items() if name.startswith(prefix))

    if m["fingerprint.wall_s"] > 0:
        m["fingerprint.rows_per_s"] = stage_rows("01_fingerprints") / m["fingerprint.wall_s"]
    m["candidates.pairs_out"] = stage_rows("02_candidates")
    m["substring.anchors_out"] = stage_rows("02b_anchors")
    m["substring.pairs_out"] = stage_rows("02b_substr")
    m["verify.pairs_out"] = m["cluster.edges_in"] = stage_rows("03_verified")
    # verify's input is the candidate pairs unioned with the substring pairs
    verify_in = m["candidates.pairs_out"] + m["substring.pairs_out"]
    if verify_in:
        m["candidates.useful_ratio"] = m["verify.pairs_out"] / verify_in

    extra = [r for r in records if r["kind"] == "stage_metrics"]
    m["stage_metrics.wall_s"] = sum(_dur(r) for r in extra)
    m["stage_metrics.shuffle_write_bytes"] = _spark_sum(
        [x for r in extra for x in tree.subtree(r, None)]
    )["shuffleWriteBytes"]

    # the catalog's own cost: everything in a write span past the data write
    # the manifest times (per-file lineage count, manifest publish)
    writes = [r for r in records if r["kind"] == "write"]
    m["catalog.write_s"] = sum(max(0.0, _dur(r) - r.get("data_write_s", 0.0)) for r in writes)
    m["catalog.bytes_written"] = sum(r.get("bytes", 0) for r in writes)

    for r in records:
        if r["kind"] == "curation":
            m[f"{r['name']}.wall_s"] += _dur(r)
    entries = [r for r in records if r["kind"] == "entry"]
    whole = _spark_sum(records)
    if any(r["name"] == "run_curation" for r in entries):
        m["curation.jobs"] = whole["jobs"]
    m["spark.jobs"] = whole["jobs"]
    m["spark.tasks"] = whole["numTasks"]
    m["spark.failed_tasks"] = whole["numFailedTasks"]
    m["spark.task_run_s"] = whole["executorRunTime"] / 1000.0
    wall = sum(_dur(r) for r in entries)
    if wall > 0:
        m["spark.busy_frac"] = m["spark.task_run_s"] / (slots * wall)
    return {k: v for k, v in m.items() if k in PER_LAYER and k not in RUN_LEVEL}
