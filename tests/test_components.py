"""Connected components: distributed large-star/small-star vs exact
union-find, on adversarial shapes (chains, stars, cliques, isolated)."""

import numpy as np
import pytest

from entityframe_spark.functions import uf_native
from entityframe_spark.operators.components import (
    connected_components,
    connected_components_blocked,
)
from tests.conftest import clusters_as_sets


def _cc_sets(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    comp = {}
    for r in out.collect():
        comp.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in comp.values()}


def test_single_edge(spark):
    assert _cc_sets(spark, [(1, 2)]) == {frozenset({1, 2})}


def test_long_chain_distributed(spark):
    # worst case for naive propagation: a 200-node path; force the
    # iterative large-star/small-star path
    edges = [(i, i + 1) for i in range(200)]
    assert _cc_sets(spark, edges, local_threshold=0) == {frozenset(range(201))}


def test_two_components_and_dups(spark):
    edges = [(1, 2), (2, 1), (2, 3), (10, 11), (11, 10)]
    assert _cc_sets(spark, edges) == {frozenset({1, 2, 3}), frozenset({10, 11})}


def test_star_and_clique(spark):
    star = [(0, i) for i in range(1, 50)]
    clique = [(i, j) for i in range(100, 110) for j in range(i + 1, 110)]
    got = _cc_sets(spark, star + clique)
    assert got == {frozenset(range(50)), frozenset(range(100, 110))}


def test_min_labeling(spark):
    df = spark.createDataFrame([(5, 9), (9, 3)], "src long, dst long")
    out = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert out == {3: 3, 5: 3, 9: 3}


def test_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def _expected_labels(edges):
    """(nodes, min-id labels) from the Python union-find twin over
    searchsorted indices: independent of the C kernel and of the
    dense-id mapping that the routes under test run."""
    nodes = np.unique([x for e in edges for x in e])
    src = np.searchsorted(nodes, [e[0] for e in edges])
    dst = np.searchsorted(nodes, [e[1] for e in edges])
    return nodes, nodes[uf_native._components_py(src, dst, len(nodes))]


def test_random_graphs_match_union_find(spark):
    rng = np.random.default_rng(42)
    for trial in range(3):
        n = 300
        m = 250 + trial * 100
        src = rng.integers(0, n, m)
        dst = rng.integers(0, n, m)
        edges = [(int(a), int(b)) for a, b in zip(src, dst) if a != b]
        nodes, labels = _expected_labels(edges)
        expected = {}
        for node, lab in zip(nodes, labels):
            expected.setdefault(int(lab), set()).add(int(node))
        # both the one-task and the distributed path must agree with
        # the exact union-find
        want = {frozenset(v) for v in expected.values()}
        assert _cc_sets(spark, edges) == want
        if trial == 0:
            assert _cc_sets(spark, edges, local_threshold=0) == want


def test_contract_cascade_routes_match_union_find(spark):
    """Graphs above local_threshold now take the contraction cascade
    first. Both cascade exits must stay exact: (a) shrink-below-bound
    -> final single kernel task; (b) stall (tree-shaped, node count
    itself above the bound) -> distributed rounds over the contracted
    star forest."""
    rng = np.random.default_rng(7)
    # (a) heavy parallel/duplicate edges: 1200 raw edges over 60 nodes
    # collapse under contraction to <60 star edges
    src = rng.integers(0, 60, 1200)
    dst = rng.integers(0, 60, 1200)
    edges = [(int(a), int(b)) for a, b in zip(src, dst) if a != b]
    nodes, labels = _expected_labels(edges)
    expected = {}
    for node, lab in zip(nodes, labels):
        expected.setdefault(int(lab), set()).add(int(node))
    want = {frozenset(v) for v in expected.values()}
    assert _cc_sets(spark, edges, local_threshold=100) == want

    # (b) a 400-node path is already a spanning forest — contraction
    # cannot shrink it below ~n, so the cascade stalls above the bound
    # and hands the star forest to the alternating-star rounds
    chain = [(i, i + 1) for i in range(400)]
    assert _cc_sets(spark, chain, local_threshold=50) == {frozenset(range(401))}


def test_blocked_components(spark):
    df = spark.createDataFrame(
        [("b1", 1, 2), ("b1", 2, 3), ("b2", 10, 11)],
        "block string, src long, dst long",
    )
    out = connected_components_blocked(df, "block")
    comp = {}
    for r in out.collect():
        comp.setdefault(r["component"], set()).add(r["node"])
    assert {frozenset(v) for v in comp.values()} == {
        frozenset({1, 2, 3}),
        frozenset({10, 11}),
    }


def test_distributed_rounds_release_storage(spark):
    """The alternating-star loop must NOT accumulate one persisted
    checkpoint per round (measured as a 16g-heap OOM at 50M edges /
    ~25 rounds): after convergence at most ONE loop checkpoint — the
    final round the result reads from — may remain persistent."""
    from entityframe_spark.operators.components import connected_components

    sc = spark.sparkContext

    def pids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = pids()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src long, dst long"
    )
    out = connected_components(edges, local_threshold=0)
    assert out.count() == 301  # many rounds ran (300-node chain)
    leaked = pids() - before
    assert len(leaked) <= 1, f"CC loop leaked {len(leaked)} persistent RDDs"


def test_distributed_rounds_do_not_touch_foreign_persists(spark):
    """ADVICE r4: the loop must release only checkpoints IT created —
    an RDD persisted by the caller (or another driver thread) before
    or during the loop must stay persisted and usable afterwards."""
    from pyspark.sql import functions as F

    from entityframe_spark.operators.components import connected_components

    sc = spark.sparkContext

    def pids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    pre = pids()
    foreign = spark.range(100).select((F.col("id") * 2).alias("x")).persist()
    assert foreign.count() == 100  # materialise the foreign cache
    foreign_ids = pids() - pre
    assert foreign_ids, "expected the foreign cache to register a persistent RDD"

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src long, dst long"
    )
    out = connected_components(edges, local_threshold=0)
    assert out.count() == 301

    # the foreign cache's ids must survive the loop (the old global-id
    # diff could sweep them up) and still serve reads. Only THIS df's
    # ids are asserted — other tests' orphaned caches may be reclaimed
    # concurrently by ContextCleaner, which is unrelated to the loop.
    missing = foreign_ids - pids()
    assert not missing, f"loop unpersisted foreign ids: {missing}"
    assert foreign.count() == 100
    foreign.unpersist()


def test_ckpt_unpersist_warns_once_on_api_drift(monkeypatch):
    """When the private queryExecution().analyzed().rdd() path drifts,
    _ckpt_unpersist keeps the blocks and says so: one RuntimeWarning
    per process, however many releases fail."""
    import warnings

    from entityframe_spark.operators import components

    class Drifted:
        @property
        def _jdf(self):
            raise AttributeError("analyzed")

    monkeypatch.setattr(components, "_unpersist_warned", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        components._ckpt_unpersist(Drifted())
        components._ckpt_unpersist(Drifted())
    drift = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(drift) == 1
    assert "localCheckpoint" in str(drift[0].message)
