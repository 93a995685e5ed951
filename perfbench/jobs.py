"""Spark job accounting for one benchmark operation.

Two pieces, both used only in traced runs:

* ``JobTagger`` wraps the PySpark methods that launch Spark jobs. Before
  each call it writes the engine frames on the calling Python stack
  (``module:qualname``, innermost first) and the benchmark's current span
  into the job-description local property. Local properties follow the
  job onto AQE and broadcast threads, and each Python thread has its own,
  so jobs submitted from the validator's eager thread pool are tagged with
  their own stack.
* ``JobLedger`` reads, right after an operation, every job whose id the
  operation opened from Spark's status store (it works with the UI off)
  and attributes each one to a layer by the frames in its tag. A job whose
  tag matches no layer is counted under ``other``.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench|"

# (layer, engine module, qualname prefixes); checked in order against every
# frame of the tag, so a profiler job that goes through the validator is
# still a profiler job and a chunk's validate() inside run_checkpoint is a
# validator job.
LAYER_RULES: list[tuple[str, str, tuple[str, ...]]] = [
    ("profiler.format", "profiler.py", ("infer_formats",)),
    ("profiler.metrics", "profiler.py", ("",)),
    ("profiler.metrics", "rule_profiler.py", ("",)),
    ("profiler.metrics", "data_assistant.py", ("",)),
    ("profiler.metrics", "assistant.py", ("",)),
    ("profiler.metrics", "interactive.py", ("",)),
    ("checkpoint.append", "checkpoint.py", ("run_checkpoint.<locals>._append_results",)),
    ("checkpoint.rollup", "checkpoint.py",
     ("CheckpointResult.rollup", "_merge_monoids", "_kll_quantiles")),
    ("checkpoint.samples", "checkpoint.py", ("CheckpointResult.violation_samples",)),
    ("validator.pass2_fused", "validator.py", ("SparkValidator._collect_violations_fused",)),
    ("validator.pass2_single", "validator.py", ("SparkValidator._collect_violations",)),
    ("validator.agg", "validator.py", ("SparkValidator._run_agg",)),
    ("validator.eager", "plans/compiler.py", ("",)),
    # results-table reads (the done-chunk read sits in run_checkpoint
    # itself, which also frames every chunk's validate(), so it goes last)
    ("checkpoint.resume", "checkpoint.py", ("run_checkpoint",)),
]

# benchmark spans whose actions run outside engine frames (a lazy DataFrame
# the engine returned, collected by the benchmark)
SPAN_LAYERS = {"checkpoint.rollup", "checkpoint.samples"}

# DataFrame / reader / writer / RDD methods that can submit Spark jobs
_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "collect", "count", "take", "tail", "head", "first", "isEmpty",
        "toLocalIterator", "toPandas", "foreach", "foreachPartition",
        "approxQuantile", "checkpoint", "localCheckpoint"),
    "pyspark.sql.readwriter:DataFrameReader": ("load", "parquet", "json", "csv", "orc", "table"),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "parquet", "json", "csv", "orc", "saveAsTable", "insertInto"),
    "pyspark.core.rdd:RDD": ("collect", "toLocalIterator"),
    "pyspark.core.context:SparkContext": ("runJob",),
}


def layer_of(tag: str | None) -> str:
    """Layer of a job from its description tag; ``other`` if none matches."""
    if not tag or not tag.startswith(TAG_PREFIX):
        return "other"
    span, _, frames = tag[len(TAG_PREFIX):].partition("|")
    parsed = [f.split(":", 1) for f in frames.split(";") if ":" in f]
    for layer, module, prefixes in LAYER_RULES:
        for mod, qual in parsed:
            if mod == module and any(qual.startswith(p) for p in prefixes):
                return layer
    return span if span in SPAN_LAYERS else "other"


class JobTagger:
    """Tags every Spark job with the engine frames that submitted it."""

    def __init__(self, sc, engine_dir: str) -> None:
        self.sc = sc
        self.engine_dir = os.path.abspath(engine_dir) + os.sep
        self.enabled = False
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        prev = getattr(self._local, "span", "")
        self._local.span = name
        try:
            yield
        finally:
            self._local.span = prev

    def _tag(self) -> str:
        frames = []
        f = sys._getframe(2)
        while f is not None:
            path = f.f_code.co_filename
            if path.startswith(self.engine_dir):
                rel = path[len(self.engine_dir):].replace(os.sep, "/")
                frames.append(f"{rel}:{f.f_code.co_qualname}")
            f = f.f_back
        return f"{TAG_PREFIX}{getattr(self._local, 'span', '')}|{';'.join(frames)}"

    def _wrap(self, fn):
        tagger = self

        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            local = tagger._local
            if not tagger.enabled or getattr(local, "depth", 0):
                return fn(*args, **kwargs)
            local.depth = 1
            tagger.sc.setLocalProperty("spark.job.description", tagger._tag())
            try:
                return fn(*args, **kwargs)
            finally:
                tagger.sc.setLocalProperty("spark.job.description", None)
                local.depth = 0

        return tagged

    def install(self) -> None:
        import importlib

        for target, names in _ACTIONS.items():
            module, cls_name = target.split(":")
            cls = getattr(importlib.import_module(module), cls_name)
            for name in names:
                orig = cls.__dict__.get(name)
                if orig is None:
                    continue
                setattr(cls, name, self._wrap(orig))


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(o) -> int | None:
    d = _opt(o)
    return None if d is None else int(d.getTime())


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


@dataclass
class Job:
    name: str
    layer: str
    start_ms: int
    end_ms: int
    stages: list[dict] = field(default_factory=list)


class JobLedger:
    """Reads the jobs of one operation from Spark's status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.mark = self._max_job_id()

    def _drain(self) -> None:
        # status-store updates arrive through the async listener bus
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def _max_job_id(self) -> int:
        self._drain()
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def start(self) -> None:
        self.mark = self._max_job_id()

    def collect(self) -> list[Job]:
        """Jobs opened since ``start``; each stage is read once per op."""
        end = self._max_job_id()
        store = self.jsc.statusStore()
        jobs: list[Job] = []
        seen_stages: set[int] = set()
        for jid in range(self.mark + 1, end + 1):
            j = store.job(jid)
            start = _ms(j.submissionTime())
            finish = _ms(j.completionTime()) or start
            desc = _opt(j.description())
            job = Job(f"{j.name()} [{desc}]", layer_of(desc), start, finish)
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                job.stages.append({
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                })
            jobs.append(job)
        self.mark = end
        return jobs
