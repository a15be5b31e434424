"""Connected components + extraction round-trip."""

from __future__ import annotations

import logging
import random

import pytest

from name_matcher_spark.fixtures.pages import make_pages
from name_matcher_spark.fixtures.persons import make_dirty
from name_matcher_spark.operators import clustering
from name_matcher_spark.operators.clustering import (
    cluster_pairs,
    connected_components,
    connected_components_bigstar,
)
from name_matcher_spark.operators.extract import extract_entities


def _uf_components(edges: list[tuple[int, int]]) -> set[frozenset[int]]:
    """Driver-side union-find oracle."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, set[int]] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in comps.values()}


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], ["src", "dst"]
    )
    got = {
        (r.node, r.cluster_id) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (5, 5)}


def test_connected_components_chain(spark):
    # A longer chain exercises multi-iteration propagation.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["src", "dst"]
    )
    got = connected_components(edges).collect()
    assert all(r.cluster_id == 1 for r in got)
    assert len(got) == 20


def test_cluster_pairs_namespaces(spark):
    pairs = spark.createDataFrame(
        [(1, 7, 1.0), (2, 7, 1.0), (3, 9, 0.5)],
        ["id_1", "id_2", "confidence"],
    )
    got = {
        (r.side, r.id, r.cluster_id)
        for r in cluster_pairs(pairs, threshold=0.95).collect()
    }
    # a1-b7-a2 form one cluster (min encoded node = 2*1 = 2);
    # the 0.5-confidence pair is below threshold -> no cluster.
    assert got == {("a", 1, 2), ("b", 7, 2), ("a", 2, 2)}


ADVERSARIAL = pytest.mark.parametrize(
    "name,edges",
    [
        ("basic", [(1, 2), (2, 3), (10, 11), (5, 5)]),
        ("deep_chain", [(i, i + 1) for i in range(1, 120)]),
        ("two_cliques_bridged", [(a, b) for a in range(1, 8) for b in range(a + 1, 8)]
         + [(a, b) for a in range(100, 107) for b in range(a + 1, 107)]
         + [(7, 100)]),
        ("random", [
            (rng.randrange(0, 300), rng.randrange(0, 300))
            for rng in [random.Random(42)]
            for _ in range(400)
        ]),
    ],
)


def _assert_union_find_components(comp, edges) -> None:
    comps: dict[int, set[int]] = {}
    for r in comp.collect():
        comps.setdefault(r.cluster_id, set()).add(r.node)
    assert {frozenset(v) for v in comps.values()} == _uf_components(edges)
    # cluster ids are the component minimum, the contract of both phases
    assert all(cid == min(members) for cid, members in comps.items())


@ADVERSARIAL
def test_bigstar_matches_union_find(spark, name, edges):
    """Large-star/small-star from the start (the O(log n)-round scale
    path) against a driver-side union-find on adversarial shapes —
    including a 120-deep chain, where plain propagation needs
    O(diameter) rounds."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    _assert_union_find_components(connected_components_bigstar(df), edges)


@ADVERSARIAL
def test_handoff_matches_union_find(spark, monkeypatch, name, edges):
    """The same shapes through ``connected_components`` with the
    handoff forced: propagation runs no round, and contraction starts
    from the 1-hop labels as star edges next to the graph."""
    monkeypatch.setattr(clustering, "PROPAGATE_ROUNDS", 0)
    df = spark.createDataFrame(edges, ["src", "dst"])
    _assert_union_find_components(connected_components(df), edges)


def test_cluster_pairs_contraction_path_agrees(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 7, 1.0), (2, 7, 1.0), (3, 9, 0.99), (4, 9, 0.99), (6, 2, 1.0)],
        ["id_1", "id_2", "confidence"],
    )
    a = {(r.side, r.id, r.cluster_id) for r in cluster_pairs(pairs).collect()}
    monkeypatch.setattr(clustering, "PROPAGATE_ROUNDS", 0)
    b = {(r.side, r.id, r.cluster_id) for r in cluster_pairs(pairs).collect()}
    assert a == b


def _chain_clusters(spark, tmp_path, n: int, entry: str) -> dict[int, int]:
    """A path of ``n`` nodes through one clustering entry point ->
    {node: cluster_id}, nodes numbered 1..n along the path."""
    if entry == "dedup_clusters":
        from name_matcher_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(1, n + 1)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
        )
        return {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
    # Alternate sides along the path: a1-b1-a2-b2-... Node k (1-based)
    # is a_{(k+1)//2} for odd k and b_{k//2} for even k; the smallest
    # encoded node is a1 = 2.
    pairs = spark.createDataFrame(
        [((k + 1) // 2 + (k % 2 == 0), (k + 1) // 2, 1.0) for k in range(1, n)],
        "id_1 long, id_2 long, confidence double",
    )
    if entry == "cluster_pairs":
        rows = cluster_pairs(pairs).collect()
    else:
        from name_matcher_spark.streaming.clustering import (
            apply_cluster_batch,
            read_clusters,
        )

        store = str(tmp_path / "labels")
        apply_cluster_batch(pairs, store)
        rows = read_clusters(spark, store).collect()
    return {2 * r.id - (r.side == "a"): r.cluster_id for r in rows}


@pytest.mark.parametrize("entry", ["cluster_pairs", "dedup_clusters", "stream_store"])
@pytest.mark.parametrize("n", [40, 60, 200])
def test_long_chain_is_one_component(spark, tmp_path, n, entry):
    """Chains longer than the propagation phase hand off to contraction
    and still come back as ONE component labeled with its smallest
    node, through every production caller."""
    got = _chain_clusters(spark, tmp_path, n, entry)
    assert sorted(got) == list(range(1, n + 1))
    smallest = 1 if entry == "dedup_clusters" else 2
    assert set(got.values()) == {smallest}


def test_contraction_cap_raises(spark, monkeypatch):
    """Contraction never exits quietly: reaching its round cap without
    a fixpoint is an error, not a partial labeling."""
    monkeypatch.setattr(clustering, "CONTRACT_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="round cap"):
        connected_components(edges)


def test_components_release_their_round_checkpoints(spark):
    """Only the returned labels stay persisted: every superseded
    round's checkpoint and the edge table are released, whether the
    call converged by propagation or handed off to contraction."""
    sc = spark.sparkContext

    def stored() -> set[int]:
        # RDD ids, so that older entries the context cleaner drops
        # meanwhile cannot offset new ones
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    held = []
    for n in (20, 200):
        before = stored()
        chain = [(i, i + 1) for i in range(1, n)]
        comp = connected_components(spark.createDataFrame(chain, "src long, dst long"))
        assert comp.count() == n
        held.append(comp)
        assert len(stored() - before) <= 3, n


def test_components_log_rounds_and_handoff(spark, caplog):
    caplog.set_level(logging.INFO, logger=clustering.__name__)
    schema = "src long, dst long"
    star = spark.createDataFrame([(1, i) for i in range(2, 30)], schema)
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 40)], schema)
    for edges, handoff in ((star, False), (chain, True)):
        caplog.clear()
        connected_components(edges).count()
        (rec,) = [r for r in caplog.records if r.name == clustering.__name__]
        msg = rec.getMessage()
        assert f"handoff={handoff}" in msg
        if handoff:
            assert f"propagation_rounds={clustering.PROPAGATE_ROUNDS}" in msg
            assert "contraction_rounds=0" not in msg
        else:
            assert "contraction_rounds=0" in msg


def test_extraction_byte_identical(spark):
    """BASELINE.json per-row invariant: extracted entity text per url is
    byte-identical to the generator's expected value."""
    a_pd, _, _ = make_dirty(300)
    pages_pd = make_pages(a_pd, table_tag="a")
    pages = spark.createDataFrame(pages_pd)
    extracted = extract_entities(pages.drop("expected_entity"))
    joined = (
        extracted.select("url", "entity_text")
        .join(pages.select("url", "expected_entity"), "url")
        .collect()
    )
    assert len(joined) == 300
    for r in joined:
        assert r.entity_text == r.expected_entity, r.url


def test_extraction_field_parse(spark):
    a_pd, _, _ = make_dirty(100)
    pages = spark.createDataFrame(make_pages(a_pd, "a")).drop("expected_entity")
    ext = extract_entities(pages).orderBy("id").toPandas()
    assert list(ext["id"]) == list(a_pd["id"])
    assert list(ext["first_name"]) == list(a_pd["first_name"])
    # None round-trips through the "" rendering
    assert [m if m is not None else None for m in ext["middle_name"]] == list(
        a_pd["middle_name"]
    )
    assert list(ext["birthdate"]) == list(a_pd["birthdate"])


def test_cluster_pairwise_f1_on_labeled_pairs(spark):
    """North-rule wording: 'matching the reference's entity clusters
    (pairwise F1>=0.99) on labeled pairs at the same blocking key'.
    Predicted same-cluster relation (cross-side pairs sharing a cluster
    id) vs the transitive closure of the scalar-mirror match set."""
    from name_matcher_spark.fixtures.persons import make_dirty
    from name_matcher_spark.operators.clustering import cluster_pairs
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy
    from name_matcher_spark.operators.prepare import prepare_persons
    from tests.test_fuzzy import _oracle_pairs

    a_pd, b_pd, _ = make_dirty(1500)
    a = prepare_persons(spark.createDataFrame(a_pd), include_middle=False)
    b = prepare_persons(spark.createDataFrame(b_pd), include_middle=False)
    pairs = match_fuzzy(a, b, include_middle=False, blocking="birthdate")
    comp = cluster_pairs(pairs, threshold=0.95).collect()
    by_cluster = {}
    for r in comp:
        by_cluster.setdefault(r.cluster_id, {"a": set(), "b": set()})[r.side].add(r.id)
    predicted = {
        (ia, ib)
        for grp in by_cluster.values()
        for ia in grp["a"]
        for ib in grp["b"]
    }

    # Truth: union-find closure over the mirror's >=0.95 pairs.
    oracle = {k for k, s in _oracle_pairs(a_pd, b_pd, False).items() if s >= 95.0}
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ia, ib in oracle:
        ra, rb = find(("a", ia)), find(("b", ib))
        if ra != rb:
            parent[ra] = rb
    groups: dict = {}
    for ia, ib in oracle:
        groups.setdefault(find(("a", ia)), {"a": set(), "b": set()})
        groups[find(("a", ia))]["a"].add(ia)
        groups[find(("b", ib))]["b"].add(ib)
    actual = {
        (ia, ib)
        for grp in groups.values()
        for ia in grp["a"]
        for ib in grp["b"]
    }

    tp = len(predicted & actual)
    precision = tp / len(predicted) if predicted else 1.0
    recall = tp / len(actual) if actual else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"cluster pairwise F1={f1:.4f} (p={precision:.4f} r={recall:.4f})"
    assert actual, "labeled closure must be non-empty"


def test_cluster_pairs_full_long_range_and_negative_ids(spark):
    """Decode must be integer bit arithmetic: floor(node/2) goes
    through double division and silently corrupts ids beyond 2^53 —
    exactly the range of xxhash64-derived doc ids. Negative ids must
    round-trip too."""
    big = (1 << 60) + 7
    pairs = spark.createDataFrame(
        [(big, big - 1, 1.0), (-5, -6, 1.0)],
        "id_1 long, id_2 long, confidence double",
    )
    got = {(r.side, r.id) for r in cluster_pairs(pairs).collect()}
    assert {("a", big), ("b", big - 1), ("a", -5), ("b", -6)} <= got


def test_cluster_pairs_int_typed_ids_do_not_wrap(spark):
    """IntegerType id columns must be widened BEFORE the shift:
    shiftleft on an int stays int and wraps at 32 bits, silently
    decoding 1_500_000_000 to a negative id."""
    pairs = spark.createDataFrame(
        [(1_500_000_000, 1_500_000_001, 1.0)],
        "id_1 int, id_2 int, confidence double",
    )
    got = {(r.side, r.id) for r in cluster_pairs(pairs).collect()}
    assert {("a", 1_500_000_000), ("b", 1_500_000_001)} <= got


def test_cluster_pairs_rejects_null_and_oversized_ids(spark):
    """Null or >=2^62 ids cannot be encoded into the 2*id namespace;
    they must fail LOUDLY at encode time, not land in a wrong cluster."""
    import pytest as _pytest

    bad_null = spark.createDataFrame(
        [(None, 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_null).collect()
    bad_big = spark.createDataFrame(
        [(1 << 62, 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_big).collect()
    # Long.MIN_VALUE must hit the SAME guard, not an abs() overflow
    # (ANSI) or a silent wrap onto node 0 (non-ANSI)
    bad_min = spark.createDataFrame(
        [(-(1 << 63), 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_min).collect()
