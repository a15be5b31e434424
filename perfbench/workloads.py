"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

Each workload makes its inputs before Spark starts, so input synthesis
is never part of a timing. ``run_pass`` goes from the inputs on disk to
a committed result and calls the program only through its public entry
functions, looked up at call time so that the traced run's wrappers
(tracing.py) see every call. ``check`` compares that result with an
independent expectation and scores the emitted pairs against the
planted truth.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from check_oracle import value_hash

EXPECTED = Path(__file__).with_name("expected.json")
# make_dirty's own default seed; the digests in expected.json are for it.
DEFAULT_SEED = 1042


@dataclass
class Check:
    problems: list[str] = field(default_factory=list)
    precision: float = 0.0
    recall: float = 0.0
    digests: dict[str, str] = field(default_factory=dict)


def _score(emitted: set, truth: set) -> tuple[float, float]:
    tp = len(emitted & truth)
    return tp / max(len(emitted), 1), tp / max(len(truth), 1)


def _compare_recorded(workload, check: Check) -> None:
    """At the default seed, the digests must equal the recorded ones."""
    if workload.seed != DEFAULT_SEED:
        return
    recorded = json.loads(EXPECTED.read_text()).get(workload.name, {})
    for key, digest in check.digests.items():
        if recorded.get(key) != digest:
            check.problems.append(
                f"{key} digest {digest} != recorded {recorded.get(key)}"
            )


class LinkBatch:
    """``plans.pipeline.run_linkage`` over rendered pages of
    ``make_dirty(PERSONS, seed)``: extract -> prepare -> pairs_fuzzy ->
    households + clusters, every stage checkpointed to parquet."""

    name = "link_batch"
    PERSONS = 12_000
    streams = True  # the traced run also streams the pages (stream.py)

    def __init__(self, seed: int, in_dir: Path) -> None:
        self.seed = seed
        self.in_dir = in_dir

    def make_inputs(self) -> None:
        from name_matcher_spark.fixtures.pages import make_pages
        from name_matcher_spark.fixtures.persons import make_dirty

        a, b, labeled = make_dirty(self.PERSONS, self.seed)
        for side, persons in (("a", a), ("b", b)):
            pages = make_pages(persons, side).drop(columns="expected_entity")
            pq.write_table(
                pa.Table.from_pandas(pages, preserve_index=False),
                self.in_dir / f"pages_{side}.parquet",
                coerce_timestamps="us",
            )
        self.truth = set(zip(labeled["id_a"].tolist(), labeled["id_b"].tolist()))
        self.input_pages = len(a) + len(b)

    def run_pass(self, spark, work_dir: Path) -> dict:
        from name_matcher_spark.plans import pipeline

        return pipeline.run_linkage(
            spark,
            str(work_dir),
            pages_a=spark.read.parquet(str(self.in_dir / "pages_a.parquet")),
            pages_b=spark.read.parquet(str(self.in_dir / "pages_b.parquet")),
        )

    def check(self, out: dict) -> Check:
        from name_matcher_spark.plans.pipeline import LinkageConfig

        check = Check()
        pairs = [
            tuple(r)
            for r in out["pairs_fuzzy"].select("id_1", "id_2", "confidence").collect()
        ]
        clusters = [tuple(r) for r in out["clusters"].collect()]
        households = out["households"]
        hh_rows = [tuple(r) for r in households.collect()]

        emitted = {(a, b) for a, b, _ in pairs}
        if len(emitted) != len(pairs):
            check.problems.append(f"{len(pairs) - len(emitted)} duplicate pairs")
        check.precision, check.recall = _score(emitted, self.truth)

        expected = _components(pairs, LinkageConfig().cluster_threshold)
        if sorted(clusters) != expected:
            check.problems.append(
                f"clusters differ from the components of the emitted pairs "
                f"({len(clusters)} rows vs {len(expected)})"
            )
        check.digests = {
            "pairs": value_hash(pairs, ["id_1", "id_2", "confidence"]),
            "clusters": value_hash(clusters, out["clusters"].columns),
            "households": value_hash(hh_rows, households.columns),
        }
        _compare_recorded(self, check)
        return check

    def preflight(self, spark, out: dict) -> dict[str, float]:
        """Skew the fuzzy join will meet, from the prepared tables'
        ``block_key``: sum and max over keys of n_a * n_b."""
        from pyspark.sql import functions as F

        def sizes(df, side):
            return df.groupBy("block_key").agg(F.count("*").alias(side))

        row = (
            sizes(out["prepare_a"], "na")
            .join(sizes(out["prepare_b"], "nb"), "block_key")
            .agg(
                F.sum(F.col("na") * F.col("nb")).alias("predicted"),
                F.max(F.col("na") * F.col("nb")).alias("largest"),
            )
            .collect()[0]
        )
        return {
            "fuzzy_join.predicted_pairs": float(row["predicted"] or 0),
            "fuzzy_join.largest_block": float(row["largest"] or 0),
        }


def _components(pairs: list[tuple], threshold: float) -> list[tuple]:
    """Union-find reference for ``cluster_pairs``: table-A id -> node
    2*id, table-B id -> 2*id+1, cluster id = smallest node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, conf in pairs:
        if conf is not None and conf >= threshold:
            ra, rb = find(2 * a), find(2 * b + 1)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    rows = []
    for node in parent:
        rows.append(("a" if node % 2 == 0 else "b", node >> 1, find(node)))
    return sorted(rows)


class Crawl:
    """``harness.wp_crawl_e2e``: URL canonicalization and dedup,
    extraction, the exact/MinHash/n-gram dedup tiers, algo1 linkage and
    clustering. Its input is TPC-H-shaped key tables (the only columns
    the crawl derivation reads) drawn from the seed; the DuckDB oracle
    of the same query gives the expected result for any seed."""

    name = "crawl"
    streams = False
    CUSTOMERS = 300
    ORDERS = 3_000

    def __init__(self, seed: int, in_dir: Path) -> None:
        self.seed = seed
        self.in_dir = in_dir

    def make_inputs(self) -> None:
        rng = random.Random(self.seed)
        # Consecutive keys from a seeded offset: names, birthdates and
        # document variants all follow from the key, and a run of keys
        # keeps the share of mirrored and archived documents the same
        # for every seed, so seeds differ in content, not in size.
        first = rng.randrange(1_000_000)
        cust = list(range(first, first + self.CUSTOMERS))
        pq.write_table(
            pa.table({"c_custkey": pa.array(cust, pa.int64())}),
            self.in_dir / "customer.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array(range(self.ORDERS), pa.int64()),
                    "o_custkey": pa.array(
                        [rng.choice(cust) for _ in range(self.ORDERS)], pa.int64()
                    ),
                }
            ),
            self.in_dir / "orders.parquet",
        )
        # Planted duplicates (harness._crawl_fetches): every person has
        # doc 4k; a byte-identical mirror 4k+1 when k % 7 == 0; an
        # archive copy 4k+2 when k % 11 == 0. Each doc is fetched once,
        # plus once more when k % 3 == 0 and when k % 4 == 0.
        self.truth = set()
        self.input_pages = 0
        for k in cust:
            docs = [4 * k] + [4 * k + 1] * (k % 7 == 0) + [4 * k + 2] * (k % 11 == 0)
            self.truth |= _group_pairs(docs)
            self.input_pages += len(docs) * (1 + (k % 3 == 0) + (k % 4 == 0))
        self._oracle()

    def _oracle(self) -> None:
        import duckdb

        from name_matcher_spark import harness

        con = duckdb.connect()
        try:
            for t in ("customer", "orders"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.in_dir / t}.parquet')"
                )
            res = con.execute(harness.ORACLES["wp_crawl_e2e"])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        self.expected_rows = len(rows)
        self.expected_hash = value_hash(rows, cols)

    def run_pass(self, spark, work_dir: Path) -> tuple[list[str], list[tuple]]:
        from name_matcher_spark import harness

        df = harness.wp_crawl_e2e(spark, str(self.in_dir))
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, out: tuple[list[str], list[tuple]]) -> Check:
        cols, rows = out
        check = Check()
        digest = value_hash(rows, cols)
        if len(rows) != self.expected_rows or digest != self.expected_hash:
            check.problems.append(
                f"result {len(rows)} rows / {digest} != oracle "
                f"{self.expected_rows} rows / {self.expected_hash}"
            )
        doc, canon = cols.index("doc_id"), cols.index("canonical_id")
        groups: dict[int, list[int]] = {}
        for r in rows:
            groups.setdefault(r[canon], []).append(r[doc])
        emitted = set().union(*(_group_pairs(g) for g in groups.values()))
        check.precision, check.recall = _score(emitted, self.truth)
        check.digests = {"result": digest}
        _compare_recorded(self, check)
        return check

    def preflight(self, spark, out) -> dict[str, float]:
        return {}


def _group_pairs(members: list[int]) -> set[tuple[int, int]]:
    s = sorted(members)
    return {(s[i], s[j]) for i in range(len(s)) for j in range(i + 1, len(s))}


WORKLOADS = {w.name: w for w in (LinkBatch, Crawl)}
