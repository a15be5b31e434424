"""The streaming layer, measured in link_batch's traced run.

Side B's pages are extracted and prepared once and pinned as the
reference. Side A's pages are cut into ``WAVES`` files, which land one
at a time in the source directory of one long-lived
``streaming.linkage.incremental_linkage`` query that also keeps a
cluster label store. The loop is closed, with one client: a file lands
(an atomic rename) only after ``processAllAvailable()`` has returned
for the one before it, that is after its pairs and its label-store
update are committed. A wave's latency runs from its file landing to
that return.

After the last wave the label store (``read_clusters``) must equal the
clusters of the batch passes over the same pages.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

WAVES = 6
# the layer's own metrics; they stay 0 when a wave fails
METRICS = (
    "streaming.wall_s",
    "streaming.rows_out",
    "streaming.wave_latency_s",
    "streaming.store_rows",
    "streaming.fold_growth",
    "streaming.cache_entries_delta",
)


@dataclass
class StreamResult:
    metrics: dict[str, float] = field(default_factory=lambda: dict.fromkeys(METRICS, 0.0))
    window_ms: tuple[int, int] = (0, 0)
    waves: int = 0  # attempted
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    rdd_entries: list[int] = field(default_factory=list)  # after each wave


def _batches_with_data(query) -> int:
    """Micro-batches with input the query has committed. (Their row
    counts are no measure of the files read: every action a
    foreachBatch body takes on its batch counts the rows again.)"""
    return len({p["batchId"] for p in query.recentProgress if p["numInputRows"]})


def run_stream(
    spark, in_dir: Path, work: Path, batch_clusters: str | None, rdd_entries
) -> StreamResult:
    """Run the waves; ``batch_clusters`` is the clusters digest of a
    batch pass over the same pages, ``rdd_entries(spark)`` counts the
    RDD storage entries."""
    from name_matcher_spark.operators.extract import extract_entities
    from name_matcher_spark.operators.prepare import prepare_persons
    from name_matcher_spark.plans.pipeline import LinkageConfig
    from name_matcher_spark.streaming import clustering, linkage

    cfg = LinkageConfig()
    res = StreamResult(waves=WAVES)
    staged, source = work / "staged", work / "source"
    staged.mkdir(parents=True)
    source.mkdir()
    pages = pq.read_table(in_dir / "pages_a.parquet")
    step = -(-pages.num_rows // WAVES)
    for i in range(WAVES):
        pq.write_table(pages.slice(i * step, step), staged / f"wave-{i:02d}.parquet")

    ref = prepare_persons(
        extract_entities(spark.read.parquet(str(in_dir / "pages_b.parquet"))).withColumnRenamed(
            "url", "uuid"
        ),
        cfg.include_middle,
    ).persist()
    ref.count()

    fold_s: list[float] = []
    original_fold = clustering.apply_cluster_batch

    def timed_fold(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original_fold(*args, **kwargs)
        finally:
            fold_s.append(time.perf_counter() - t0)

    # streaming.linkage imports apply_cluster_batch at call time
    clustering.apply_cluster_batch = timed_fold
    labels = str(work / "labels")
    latencies, rdds = res.latencies, res.rdd_entries
    query = None
    start_ms = int(time.time() * 1000)
    try:
        query = linkage.incremental_linkage(
            spark.readStream.schema(spark.read.parquet(str(in_dir / "pages_a.parquet")).schema)
            .parquet(str(source)),
            ref,
            str(work / "pairs"),
            str(work / "checkpoint"),
            include_middle=cfg.include_middle,
            max_block_rows=cfg.max_block_rows,
            available_now=False,
            cluster_labels_dir=labels,
            cluster_threshold=cfg.cluster_threshold,
        )
        for i in range(WAVES):
            name = f"wave-{i:02d}.parquet"
            t0 = time.perf_counter()
            os.rename(staged / name, source / name)
            # a trigger that was already listing the source when the
            # file landed can end the wait early; wait until the file's
            # micro-batch is committed
            while _batches_with_data(query) <= i:
                if not query.isActive:
                    raise RuntimeError(f"the query stopped: {query.exception()}")
                query.processAllAvailable()
            latencies.append(time.perf_counter() - t0)
            rdds.append(rdd_entries(spark))
    except Exception as e:  # noqa: BLE001 - failed waves are counted, not fatal
        res.problems.append(f"wave {len(latencies) + 1} raised {type(e).__name__}: {str(e)[:300]}")
    finally:
        end_ms = int(time.time() * 1000)
        clustering.apply_cluster_batch = original_fold
    res.window_ms = (start_ms, end_ms)
    res.failed = WAVES - len(latencies)

    try:
        if not res.failed:
            _check(spark, res, work, labels, batch_clusters)
            third = max(WAVES // 3, 1)
            res.metrics["streaming.wall_s"] = statistics.fmean(latencies)
            res.metrics["streaming.wave_latency_s"] = statistics.median(latencies)
            res.metrics["streaming.fold_growth"] = statistics.median(
                fold_s[-third:]
            ) / statistics.median(fold_s[:third])
            res.metrics["streaming.cache_entries_delta"] = rdds[-1] - rdds[0]
    except Exception as e:  # noqa: BLE001
        res.problems.append(f"store check raised {type(e).__name__}: {str(e)[:300]}")
        res.failed = 1
    finally:
        if query is not None:
            query.stop()
        ref.unpersist()
    return res


def _check(spark, res: StreamResult, work: Path, labels: str, batch_clusters: str | None) -> None:
    """The label store must equal the batch clusters; a mismatch fails
    the last wave."""
    from check_oracle import value_hash

    from name_matcher_spark.streaming.clustering import read_clusters

    store = read_clusters(spark, labels)
    rows = [tuple(r) for r in store.collect()]
    digest = value_hash(rows, store.columns)
    if digest != batch_clusters:
        res.problems.append(
            f"label store {len(rows)} rows / {digest} != batch clusters {batch_clusters}"
        )
        res.failed = 1
    res.metrics["streaming.store_rows"] = len(rows)
    res.metrics["streaming.rows_out"] = spark.read.parquet(str(work / "pairs")).count() / WAVES
