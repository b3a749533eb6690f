"""The engine's benchmark: named workloads over the production entry points.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. One process, one ``local[2]`` session:
set-up (session start + one discarded warm-up call, which also starts the
Python workers), then timed calls of the workload's entry point until
``--seconds`` have passed, each on a fresh checkpoint/output directory and
each checked against planted truth outside the timer. Set-up and calls are
measured in CPU seconds of this process, the JVM and its Python workers
(wall time is reported per layer, see README.md). ``--trace 1`` adds one
traced call and prints the per-layer metrics instead of the end-to-end ones.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SLOTS = 2  # local[2]: each UDF task is a JVM thread plus a Python worker, on 4 cores
DRIVER_MEMORY = "3g"
CALL_TIMEOUT_S = 60.0  # a call still running after this is cancelled and counts as failed
DIGESTS = HERE / "digests.json"
WARM_SEED = 1_000_003  # the warm-up corpus is the same for every --seed

END_TO_END = {
    "rows_per_cpu_s": "rows/cpu_s",
    "setup_s": "s",
    "shuffle_write_bytes": "bytes",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- workloads


class BatchDedup:
    """run_pipeline with CLI defaults (substring stage, phash, stage
    metrics) over a planted-cluster image+caption corpus."""

    entry = "run_pipeline"
    n_rows, warm_rows = 6000, 1000

    def prepare(self, cache: pathlib.Path, seed: int) -> None:
        from workloads import cached_image_input

        self.input, truth = cached_image_input(cache, self.n_rows, seed)
        self.truth = truth.set_index("image_id")["label"].astype(str)
        self.warm_input, _ = cached_image_input(cache, self.warm_rows, WARM_SEED)
        self.rows = self.n_rows

    def call(self, spark, out: pathlib.Path, warm: bool = False):
        from simhash_spark.plans.pipeline import run_pipeline

        run_pipeline(spark, str(self.warm_input if warm else self.input), str(out / "ckpt"))

    def check(self, out: pathlib.Path) -> dict:
        import pandas as pd

        from workloads import check_clusters

        clusters = pd.read_parquet(out / "ckpt" / "04_clusters" / "data")
        return check_clusters(self.truth, clusters, "image_id")


class TextCuration:
    """run_curation(substring=True, sample_rate=0.8) over a 2,000-doc sample
    of the documents test table. The sample is one of eight seeded variants
    (seed mod 8) so every input has its output-id digest recorded on the
    seed commit (digests.json)."""

    entry = "run_curation"
    n_docs, warm_docs, variants = 2000, 300, 8

    def prepare(self, cache: pathlib.Path, seed: int) -> None:
        from workloads import cached_text_input

        self.variant = seed % self.variants
        self.input = cached_text_input(cache, self.n_docs, self.variant)
        self.warm_input = cached_text_input(cache, self.warm_docs, WARM_SEED)
        self.digest = json.loads(DIGESTS.read_text()).get(f"{self.n_docs}:{self.variant}")
        self.rows = self.n_docs

    def call(self, spark, out: pathlib.Path, warm: bool = False):
        from jobs.run_curation import run_curation

        run_curation(
            spark, str(self.warm_input if warm else self.input), str(out / "cur"),
            substring=True, sample_rate=0.8,
        )

    def output_digest(self, out: pathlib.Path) -> str:
        import pyarrow.parquet as pq

        from workloads import ids_digest

        return ids_digest(pq.read_table(out / "cur" / "documents", columns=["doc_id"])["doc_id"].to_pylist())

    def check(self, out: pathlib.Path) -> dict:
        """Near-dup clusters scored against the spec's truth over the texts
        that reached the near-dup stage; the output ids against the digest
        recorded for this input."""
        import pandas as pd

        from workloads import check_clusters, truth_labels

        stage3 = pd.read_parquet(out / "cur" / "_stages" / "03_exact", columns=["doc_id", "text"])
        truth = pd.Series(
            truth_labels(stage3["text"].tolist()).astype(str), index=stage3["doc_id"].astype(str)
        )
        res = check_clusters(truth, pd.read_parquet(out / "cur" / "_stages" / "04_clusters"), "doc_id")
        got = self.output_digest(out)
        if got != self.digest:
            res["ok"] = False
            res["problems"].append(f"output id digest {got} != recorded {self.digest}")
        return res


WORKLOADS = {
    "batch_dedup": BatchDedup,
    "text_curation": TextCuration,
}


# ------------------------------------------------------------------- runner


def jvm_tree(jvm_pid: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the command name) of the JVM and every
    process below it: the Python daemon and its workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for stat in pathlib.Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.parent.name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    tree, todo = {}, [jvm_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the JVM tree."""
    total_kb = 0
    for pid in jvm_tree(jvm_pid):
        try:
            for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds, user + system, used so far by this driver process and
    the JVM tree, reaped children included. Time the host steals from the
    VM or gives to other processes is not counted."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in jvm_tree(jvm_pid).values())
    return sum(os.times()[:2]) + ticks / os.sysconf("SC_CLK_TCK")


def isolate(name: str) -> pathlib.Path:
    """Create and enter ``perfbench/.work/<name>``, where checkpoints,
    outputs, the JVM's and Python's temp files and the session warehouse
    land, inside the checkout. Spark's local dir (shuffle and broadcast
    files) stays at the session default, tmpfs, as the engine runs it.
    Engine modules reach the Python workers through PYTHONPATH. Call before
    the session starts."""
    work = HERE / ".work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.chdir(work)
    return work


class Runner:
    def __init__(self, spark, wl, work: pathlib.Path, run_id: str, jvm_pid: int):
        self.spark, self.wl, self.work, self.run_id, self.jvm_pid = spark, wl, work, run_id, jvm_pid
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def call(self, k: int, tracer=None) -> dict | None:
        """One timed entry call on a fresh directory under one entry span;
        returns its wall time, the stage totals of the entry span's own job
        group (the whole call, unless traced) and its check result, or None
        when it failed. With a ``tracer`` the layer boundaries get spans
        too."""
        from spans import Tracer, group_stage_data, instrument

        out = self.work / f"call{k}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        # outside the timer: drop cached blocks and let the ContextCleaner
        # free shuffle/broadcast files of earlier calls
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()
        self.attempted += 1
        boundaries = instrument(tracer) if tracer is not None else contextlib.nullcontext()
        tracer = tracer or Tracer(self.spark, f"{self.run_id}-call{k}")
        watchdog = threading.Timer(CALL_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        watchdog.start()
        try:
            cpu0 = cpu_s(self.jvm_pid)
            with boundaries, tracer.span(self.wl.entry, "entry") as root:
                self.wl.call(self.spark, out)
            cpu = cpu_s(self.jvm_pid) - cpu0
            check = self.wl.check(out)
        except Exception:  # a failed call is a measured outcome, not a crash
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            log(f"call {k} raised:\n{self.problems[-1]}")
            return None
        finally:
            watchdog.cancel()
        if not check["ok"]:
            self.failed += 1
            self.problems.extend(check["problems"])
            log(f"call {k} failed its check: {check['problems']}")
        for s in tracer.spans:
            s.attrs["spark"] = group_stage_data(self.spark, s.group)
        shutil.rmtree(out, ignore_errors=True)
        log(f"call {k}: {root.duration:.3f} s cpu {cpu:.3f} s ok={check['ok']} recall={check['recall']:.4f}")
        return {"wall": root.duration, "cpu": cpu, "stages": root.attrs["spark"], "check": check}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "simhash_spark" / "__init__.py").exists():
        log(f"no engine sources under {ROOT}; run from a full checkout")
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    cache = HERE / ".work" / "cache"
    work = isolate(f"run-{os.getpid()}")

    wl = WORKLOADS[args.workload]()
    tg = time.perf_counter()
    wl.prepare(cache, args.seed)
    log(f"inputs and truth ready in {time.perf_counter() - tg:.2f} s (cached on disk, not part of setup_s)")

    from simhash_spark.session import get_spark

    t_setup = time.perf_counter()
    own0 = sum(os.times()[:2])
    spark = get_spark(parallelism=SLOTS, driver_memory=DRIVER_MEMORY)
    gateway = spark.sparkContext._gateway
    log(f"session up in {time.perf_counter() - t_setup:.3f} s")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    runner = Runner(spark, wl, work, run_id, jvm_pid)
    try:
        # discarded warm-up: JIT, codegen and Python-worker start-up
        warm = work / "warm"
        wl.call(spark, warm, warm=True)
        shutil.rmtree(warm, ignore_errors=True)
        setup_wall_s = time.perf_counter() - t_setup
        setup_s = cpu_s(jvm_pid) - own0
        log(f"setup {setup_wall_s:.3f} s, cpu {setup_s:.3f} s")

        calls = []
        t_measure = time.perf_counter()
        while True:
            r = runner.call(len(calls))
            if r is None:
                break
            calls.append(r)
            if time.perf_counter() - t_measure >= args.seconds:
                break
        traced = None
        if args.trace and calls:
            from spans import Tracer

            tracer = Tracer(spark, run_id)
            traced = runner.call(len(calls), tracer=tracer)
            (HERE / ".work" / f"spans-{args.workload}.json").write_text(
                json.dumps(tracer.as_records(), indent=1, default=str)
            )
        rss = peak_rss_mb(jvm_pid)
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    ok = bool(calls) and runner.failed == 0
    if args.trace:
        from layers import PER_LAYER, layer_metrics

        values = layer_metrics(tracer.as_records(), SLOTS) if traced else {k: 0.0 for k in PER_LAYER}
        values["memory.peak_rss_mb"] = rss
        values["failed_op_frac"] = runner.failed / max(1, runner.attempted)
        values["wall.rows_per_s"] = statistics.median(wl.rows / c["wall"] for c in calls) if calls else 0.0
        values["setup.wall_s"] = setup_wall_s
        if traced and calls:
            values["trace.overhead_s"] = traced["wall"] - statistics.median(c["wall"] for c in calls)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        med = statistics.median
        values = {
            "rows_per_cpu_s": med(wl.rows / c["cpu"] for c in calls) if calls else 0.0,
            "setup_s": setup_s,
            "shuffle_write_bytes": med(c["stages"]["shuffleWriteBytes"] for c in calls) if calls else 0,
            "dup_pair_recall": med(c["check"]["recall"] for c in calls) if calls else 0.0,
            "dup_pair_precision": med(c["check"]["precision"] for c in calls) if calls else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        log(f"{len(calls)} timed calls; walls {[round(c['wall'], 3) for c in calls]}, cpu {[round(c['cpu'], 3) for c in calls]}")
    print(json.dumps({"correct": ok, "attempted": runner.attempted, "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
