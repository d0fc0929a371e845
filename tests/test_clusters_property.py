"""Property-based equivalence for connected components: hypothesis
generates random undirected pair graphs and the Spark min-label
propagation must match an independent pure-Python union-find.

All generated graphs are batched into ONE Spark job (graph id offsets
the node ids into disjoint ranges), so hypothesis's many examples cost
one driver-coordinated fixpoint instead of one per example.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pedsnetdcc_spark.datapipe.clusters import connected_components


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id canonical label per component
    return {n: find(n) for n in parent}


graph_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(graphs=st.lists(graph_strategy, min_size=1, max_size=8))
def test_connected_components_matches_union_find(spark, graphs):
    offset = 1000
    edges: list[tuple[int, int]] = []
    expected: dict[int, int] = {}
    for gi, g in enumerate(graphs):
        shifted = [(u + gi * offset, v + gi * offset) for u, v in g]
        edges.extend(shifted)
        expected.update(_union_find(shifted))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_string_ids_long_chain(spark):
    """String node ids (URLs/UUIDs — common document keys) must fully
    converge.  The decimal-sum convergence check yields NULL on strings;
    a NULL==NULL comparison would exit after ONE propagation round and
    silently under-merge any component with diameter > ~3, so string
    ids take the exact changed-rows path.  A 12-node chain (diameter
    11) catches any premature exit."""
    chain = [(f"doc-{i:02d}", f"doc-{i + 1:02d}") for i in range(11)]
    # reversed orientation so min-label must travel the whole chain
    pairs = spark.createDataFrame(
        [(b, a) for a, b in chain], "id_a string, id_b string"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {f"doc-{i:02d}": "doc-00" for i in range(12)}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).collect() == []


def test_connected_components_non_integer_shuffle_partitions(spark, monkeypatch):
    """Platforms that set ``spark.sql.shuffle.partitions`` to ``"auto"``
    fall back to the default parallelism instead of raising."""
    from pyspark.sql.conf import RuntimeConfig

    real_get = RuntimeConfig.get

    def get(self, key, *args):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
