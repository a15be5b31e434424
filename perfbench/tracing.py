"""Per-layer attribution for the traced run.

``Tracer`` wraps the program's public entry functions from the outside:
it swaps each module attribute (and every alias of it that a module of
the package imported by name) for a wrapper, and puts them back on
exit. A wrapped call

- opens a span, named after its layer, and sets the Spark job
  description to ``perfbench:<layer>`` until the call returns, so every
  job it starts is attributed to the layer in the event log;
- materializes a DataFrame result inside that span (persist and count),
  so the lazy work the layer defines is done, and counted, under its
  own name and not in whichever later layer first consumes it.

Layer wall time is span self time (span minus the spans nested in it),
measured here in Python. Task time, shuffle bytes, spill, task and job
counts come from Spark's event log, joined on the job description.
The materializations cost time; the traced run reports that overhead.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PREFIX = "perfbench:"
DESCRIPTION = "spark.job.description"

LAYERS = (
    "sources.checkpoint",
    "web",
    "extract",
    "prepare",
    "fuzzy_join.blocking",
    "fuzzy_join.scoring",
    "exact",
    "dedup",
    "household",
    "clustering",
)
# a layer's fields taken from the event log, summed over its stages and
# counted over its jobs; wall_s and rows_out are measured here
STAGE_FIELDS = ("task_s", "shuffle_bytes", "spill_bytes", "tasks")
EVENT_FIELDS = STAGE_FIELDS + ("jobs",)
_PKG = "name_matcher_spark"
_OPS = f"{_PKG}.operators"

# (layer, module, attribute, the counter the result's row count adds
# to). The inner dedup tiers count into counters of their own, so that
# dedup.rows_out stays the pipeline's output. A stage checkpoint returns
# its parquet re-read, so that result is only counted, never persisted.
TARGETS = (
    ("sources.checkpoint", f"{_PKG}.sources.checkpoint", "StageCheckpoint.run_stage", "rows_out"),
    ("web", f"{_OPS}.web", "url_dedup_groups", "rows_out"),
    ("extract", f"{_OPS}.extract", "extract_entities", "rows_out"),
    ("prepare", f"{_OPS}.prepare", "prepare_persons", "rows_out"),
    ("fuzzy_join.blocking", f"{_OPS}.fuzzy_join", "candidates_bkey_cascade", "rows_out"),
    ("fuzzy_join.scoring", f"{_PKG}.functions.fuzzy", "score_candidate_pairs", "rows_out"),
    ("exact", f"{_OPS}.exact", "match_algo1", "rows_out"),
    ("dedup", f"{_OPS}.dedup", "dedup_pipeline", "rows_out"),
    ("dedup", f"{_OPS}.dedup", "minhash_lsh_candidates", "lsh_candidates"),
    ("dedup", f"{_OPS}.dedup", "ngram_jaccard_pairs", "verified"),
    ("household", f"{_OPS}.household", "households_option5", "rows_out"),
    ("clustering", f"{_OPS}.clustering", "cluster_pairs", "rows_out"),
)
# Modules whose by-name imports must see the wrappers too.
_CONSUMERS = (f"{_PKG}.harness", f"{_PKG}.plans.pipeline")


@dataclass
class _Span:
    start: float
    children_s: float = 0.0


class Tracer:
    """Install the wrappers for the ``with`` block; call ``pass_done``
    after each traced pass. Counters and self times accumulate over
    the passes."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.self_s: dict[str, float] = defaultdict(float)
        self.counters: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.scoring_inputs = 0
        self.pass_walls: list[float] = []
        self.windows_ms: list[tuple[int, int]] = []
        self._stack: list[_Span] = []
        self._pins: list = []
        self._restore: list[tuple[object, str, object]] = []

    # -- wrappers ----------------------------------------------------
    def __enter__(self) -> "Tracer":
        import importlib

        for name in _CONSUMERS:
            importlib.import_module(name)
        for layer, module, attr, counter in TARGETS:
            owner = importlib.import_module(module)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            original = getattr(owner, attr)
            wrapper = self._wrap(layer, original, counter)
            self._swap(owner, attr, wrapper)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(_PKG):
                    for alias, value in list(vars(mod).items()):
                        if value is original:
                            self._swap(mod, alias, wrapper)
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()
        self.release()

    def _swap(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, layer: str, fn, counter: str):
        from pyspark.sql import DataFrame

        is_scoring = layer == "fuzzy_join.scoring"
        persist = layer != "sources.checkpoint"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            previous = self.sc.getLocalProperty(DESCRIPTION)
            span = _Span(time.perf_counter())
            self._stack.append(span)
            self.sc.setJobDescription(PREFIX + layer)
            try:
                if is_scoring and isinstance(args[0], DataFrame):
                    gated = self._materialize(args[0])
                    self.scoring_inputs += gated.count()
                    args = (gated,) + args[1:]
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    if persist:
                        out = self._materialize(out)
                    self.counters[layer][counter] += out.count()
                return out
            finally:
                self._stack.pop()
                elapsed = time.perf_counter() - span.start
                self.self_s[layer] += elapsed - span.children_s
                if self._stack:
                    self._stack[-1].children_s += elapsed
                self.sc.setLocalProperty(DESCRIPTION, previous)

        return wrapper

    def _materialize(self, df):
        from pyspark import StorageLevel

        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pins.append(df)
        return df

    def release(self) -> None:
        """Unpersist what the wrappers pinned."""
        for df in self._pins:
            df.unpersist()
        self._pins.clear()

    # -- passes ------------------------------------------------------
    def pass_done(self, start_ms: int, end_ms: int, wall_s: float) -> None:
        self.release()
        self.windows_ms.append((start_ms, end_ms))
        self.pass_walls.append(wall_s)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from an uncompressed event log directory, with
    each job's and stage's description."""
    jobs, stages, described = [], {}, {}
    paths = sorted(glob.glob(f"{log_dir}/**/*", recursive=True))
    for path in filter(os.path.isfile, paths):
        with open(path) as fh:
            for line in filter(str.strip, fh):
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "desc": (e.get("Properties") or {}).get(DESCRIPTION),
                            "submitted_ms": e["Submission Time"],
                        }
                    )
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    described[key] = (e.get("Properties") or {}).get(DESCRIPTION)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    acc = {a["Name"]: a.get("Value") for a in info["Accumulables"]}
                    stages[key] = {
                        "submitted_ms": info.get("Submission Time") or 0,
                        "tasks": info["Number of Tasks"],
                        "task_s": _num(acc, "internal.metrics.executorRunTime") / 1000,
                        "shuffle_bytes": _num(acc, "internal.metrics.shuffle.write.bytesWritten"),
                        "spill_bytes": _num(acc, "internal.metrics.diskBytesSpilled"),
                    }
    for key, stage in stages.items():
        stage["desc"] = described.get(key)
    return jobs, list(stages.values())


def _num(acc: dict, name: str) -> float:
    return float(acc.get(name) or 0)


def layer_metrics(
    tracer: Tracer, log_dir: str, windows: dict[str, tuple[list[tuple[int, int]], int]]
) -> dict[str, float]:
    """Per-pass averages of every layer's fields, plus the time and
    tasks no layer accounts for. ``windows`` maps a layer that runs
    outside the traced passes to its time windows (epoch ms) and the
    count its event-log fields are averaged over; the jobs and stages
    submitted in a window are its own."""
    jobs, stages = read_event_log(log_dir)
    passes = max(len(tracer.pass_walls), 1)

    def within(ms: int, spans) -> bool:
        return any(lo <= ms <= hi for lo, hi in spans)

    def owner(desc: str | None, ms: int) -> str | None:
        if desc and desc.startswith(PREFIX) and desc[len(PREFIX):] in LAYERS:
            return desc[len(PREFIX):]
        if within(ms, tracer.windows_ms):
            return "unattributed"
        return next((name for name, (spans, _) in windows.items() if within(ms, spans)), None)

    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in jobs:
        layer = owner(job["desc"], job["submitted_ms"])
        if layer:
            totals[layer]["jobs"] += 1
    for stage in stages:
        layer = owner(stage["desc"], stage["submitted_ms"])
        if layer:
            for f in STAGE_FIELDS:
                totals[layer][f] += stage[f]

    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.wall_s"] = tracer.self_s.get(layer, 0.0) / passes
        out[f"{layer}.rows_out"] = tracer.counters[layer]["rows_out"] / passes
        for f in EVENT_FIELDS:
            out[f"{layer}.{f}"] = totals[layer][f] / passes
    for name, (_, count) in windows.items():
        for f in EVENT_FIELDS:
            out[f"{name}.{f}"] = totals[name][f] / max(count, 1)
    traced_wall = sum(tracer.pass_walls) / passes
    out["unattributed.wall_s"] = traced_wall - sum(
        out[f"{layer}.wall_s"] for layer in LAYERS
    )
    out["unattributed.task_s"] = totals["unattributed"]["task_s"] / passes
    out["unattributed.jobs"] = totals["unattributed"]["jobs"] / passes

    dd = tracer.counters["dedup"]
    matched = tracer.counters["fuzzy_join.scoring"]["rows_out"]
    out["fuzzy_join.candidates"] = out["fuzzy_join.blocking.rows_out"]
    out["fuzzy_join.scoring_yield"] = matched / max(tracer.scoring_inputs, 1)
    out["dedup.lsh_candidates"] = dd["lsh_candidates"] / passes
    out["dedup.verify_yield"] = dd["verified"] / max(dd["lsh_candidates"], 1)
    return out
