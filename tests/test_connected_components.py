"""Property-based test: the distributed connected-components operator
must agree with a sequential union-find on arbitrary graphs (the
engine's "two implementations, one spec" pattern — SURVEY §5.2.3 —
applied to the one iterative algorithm in the codebase).

Hypothesis drives adversarial shapes the LSH-candidate graphs never
produce: long paths (worst case for plain propagation — this is what
the pointer-jumping step exists for), stars, parallel edges, self
loops, and disconnected singleton-free edge soups.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
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
            parent[max(ra, rb)] = min(ra, rb)
    # resolve every node to the min id of its component
    return {n: find(n) for n in parent}


# Small id space on purpose: collisions create dense/pathological
# graphs; a path graph of 40 nodes needs the log-round jumping.
_EDGES = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 60)),
    min_size=1,
    max_size=80,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_EDGES)
def test_cc_matches_union_find(spark, edges):
    from rime_wanxiang_logger_spark.operators.pipeline import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["label"] for r in connected_components(pairs).collect()
    }
    want = _union_find(edges)
    assert got == want


def test_cc_path_graph_converges(spark):
    """A 64-node path is the diameter worst case: plain min-propagation
    needs 63 rounds, pointer jumping must finish within MAX_CC_ROUNDS."""
    from rime_wanxiang_logger_spark.operators.pipeline import (
        connected_components,
    )

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["label"] for r in connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_cc_stats_estimate_stays_bounded(spark):
    """Regression pin for the iterated-checkpoint cost-model blowup
    (found by the r7 sf5 sweep): Spark's (local)checkpoint carries the
    pre-checkpoint plan's sizeInBytes estimate into the new leaf, and
    a join estimate is the product of its children's, so an iterated
    self-join SQUARES the estimate per round — by ~18 rounds it is a
    multi-million-digit BigInteger and planning time grows
    geometrically (0.5→70 s/step measured). connected_components
    persists each frontier so the leaf reports its actual cached size
    instead. A 512-node path forces ~9 rounds; without the persist
    the returned plan's estimate would carry ~2^9 digits — with it,
    the digit count stays that of an honest byte size."""
    from rime_wanxiang_logger_spark.operators.pipeline import (
        connected_components,
    )

    n = 512
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs)
    assert labels.groupBy("label").count().collect()[0]["count"] == n
    size = str(
        labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert len(size) < 40, f"cost-model estimate compounding: {size[:80]}..."


def _labels(df) -> dict[int, int]:
    return {r["node"]: r["label"] for r in df.collect()}


def _clusters_and_path() -> list[tuple[int, int]]:
    # ten 5-cliques on ids 100.. and a 30-node path on ids 0..29
    cliques = [
        (100 + 10 * c + i, 100 + 10 * c + j)
        for c in range(10)
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    return cliques + [(i, i + 1) for i in range(29)]


def test_cc_iterates_when_components_span_partitions(spark, monkeypatch):
    """Round-robin the pairs over 4 partitions: every component has
    edges in several partitions, so the per-partition seed is split and
    the propagate + jump loop must finish the job."""
    from rime_wanxiang_logger_spark.operators import pipeline

    rounds = []
    pin = pipeline.pin_frontier
    monkeypatch.setattr(
        pipeline, "pin_frontier", lambda df: rounds.append(1) or pin(df)
    )
    edges = _clusters_and_path()
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(4)
    assert _labels(pipeline.connected_components(pairs)) == _union_find(edges)
    assert rounds, "the seed cannot be final when components span partitions"


def test_cc_final_seed_runs_no_round(spark, monkeypatch):
    """All pairs in one partition: the seed is exact, so the call is the
    seed plus one verifying action, and no round runs."""
    from rime_wanxiang_logger_spark.operators import pipeline

    monkeypatch.setattr(pipeline, "pin_frontier", None)  # a round would fail
    edges = _clusters_and_path()
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").coalesce(1)
    pairs = pairs.localCheckpoint()
    sc = spark.sparkContext
    group = "test_cc_final_seed_runs_no_round"
    sc.setJobGroup(group, group)
    try:
        labels = pipeline.connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the seed's shuffle, then the verify's shuffle and result
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert _labels(labels) == _union_find(edges)


def test_cc_empty_pairs(spark):
    from rime_wanxiang_logger_spark.operators.pipeline import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "doc_a long, doc_b long").repartition(4)
    labels = connected_components(pairs)
    assert labels.columns == ["node", "label"]
    assert labels.count() == 0


def test_cc_calls_leak_no_listener(spark):
    """Each call reads its verdicts through Observations; repeated calls
    must leave the session's query-execution listeners as they were."""
    from rime_wanxiang_logger_spark.operators.pipeline import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        _clusters_and_path(), "doc_a long, doc_b long"
    ).repartition(2)
    manager = spark._jsparkSession.listenerManager()
    connected_components(pairs)
    before = len(manager.listListeners())
    for _ in range(10):
        connected_components(pairs)
    assert len(manager.listListeners()) == before


def test_pagerank_stats_estimate_stays_bounded(spark, sf_dir):
    """The same iterated-checkpoint blowup regression, pinned on the
    OTHER iterated loop (judge r7 #7): q79's power iteration now pins
    each frontier via pin_frontier. Without the persist the carried
    estimate roughly doubles its digit count per round through the
    rank<->degree join products (~200+ digits after 5 rounds); with a
    materialized frontier the final plan's estimate stays an honest
    byte size."""
    from rime_wanxiang_logger_spark.operators.mining import q79_pagerank

    out = q79_pagerank(spark, sf_dir)
    assert out.count() > 0
    size = str(
        out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert len(size) < 40, f"cost-model estimate compounding: {size[:80]}..."


def test_q53_warm_call_compiles_no_class(spark, sf_dir):
    """A second q53 call (detect pairs, seed, verify, cluster sizes)
    reuses every generated class the first call compiled: its plans are
    the same from call to call, so none is recompiled."""
    from rime_wanxiang_logger_spark.operators.pipeline import q53_dedup_clusters

    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def compilations_of_one_call() -> int:
        before = compiled.getCount()
        q53_dedup_clusters(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        return compiled.getCount() - before

    assert compilations_of_one_call() > 0 or compiled.getCount() > 0
    assert compilations_of_one_call() == 0
