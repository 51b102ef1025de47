"""Graph operators: connected components (chains, merges,
determinism), both branches of the byte-cap gate, and edge-multiset
inputs."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from inputosm_spark import metrics
from inputosm_spark.operators import graph

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _broadcast_threshold(spark, value):
    """Run the block under `value` (None = the session's own setting)."""
    orig = spark.conf.get(_THRESHOLD)
    try:
        if value is not None:
            spark.conf.set(_THRESHOLD, value)
        yield
    finally:
        spark.conf.set(_THRESHOLD, orig)


def _last_execution_id(spark):
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _plans_since(spark, execution_id):
    """Physical plans of the SQL executions after `execution_id` (the
    status store lists executions in id order)."""
    store = spark._jsparkSession.sharedState().statusStore()
    plans = []
    for i in range(store.executionsCount() - 1, -1, -1):
        ex = store.executionsList(i, 1).apply(0)
        if ex.executionId() <= execution_id:
            break
        plans.append(ex.physicalPlanDescription())
    return plans


def _lpa_reference(edges, n_iter):
    """Synchronous min-tie LPA replayed in Python on the DISTINCT
    undirected graph of `edges`."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lab = {n: n for n in adj}
    for _ in range(n_iter):
        nxt = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            nxt[n] = min(cnt, key=lambda k: (-cnt[k], k))
        lab = nxt
    return lab


def test_components_chain_and_islands(spark):
    # chain 1-2-3-4, island 10-11, singleton edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "src long, dst long"
    )
    got = {r.node: r.component
           for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_components_merge_through_hub(spark):
    # two stars merged by a bridge: min label must flow across
    edges = [(5, 6), (5, 7), (8, 9), (8, 100), (7, 8), (1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in graph.connected_components(df).collect()}
    assert set(got.values()) == {1}


def test_components_long_path_converges(spark):
    # a 15-hop path needs label to travel the full diameter
    edges = [(i, i + 1) for i in range(100, 115)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in graph.connected_components(df).collect()}
    assert set(got.values()) == {100} and len(got) == 16


def test_long_chain_converges_in_log_rounds(spark):
    """A 1000-node chain has diameter 999 — min-label propagation would
    need ~999 rounds; the large-star/small-star alternation must finish
    in O(log n): max_iter=12 would RAISE if it didn't. The byte-cap
    local finish is DISABLED (threshold=-1) so this exercises the
    distributed rounds — the 100 TB path."""
    edges = [(i, i + 1) for i in range(1000)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with _broadcast_threshold(spark, "-1"):
        got = {r.node: r.component
               for r in graph.connected_components(df, max_iter=12).collect()}
    assert set(got.values()) == {0} and len(got) == 1001


_MIXED = (
    [(i, i + 1) for i in range(0, 40)]                      # long chain
    + [(100 + i, 100 + (i * 7) % 23) for i in range(23)]    # tangle
    + [(500, 501), (502, 501), (503, 502)]                  # small tree
    + [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]  # K5
    + [(900, 901)]                                          # island
)
_CANONICAL = sorted({(min(e), max(e)) for e in _MIXED if e[0] != e[1]})

# each operator on its one input form of the mixed graph
_GRAPH_OPS = {
    "connected_components": lambda spark: graph.connected_components(
        spark.createDataFrame(_MIXED, "src long, dst long")
    ),
    "pagerank": lambda spark: graph.pagerank(
        spark.createDataFrame(_MIXED, "src long, dst long"), iters=3
    ),
    "triangle_counts": lambda spark: graph.triangle_counts(
        spark.createDataFrame(_CANONICAL * 2, "u long, v long")
    ),
    "label_propagation": lambda spark: graph.label_propagation(
        spark.createDataFrame(
            _CANONICAL + [(v, u) for u, v in _CANONICAL], "s long, d long"
        ),
        n_iter=3,
    ),
}


@pytest.mark.parametrize("op", list(_GRAPH_OPS))
def test_local_finish_matches_distributed_rounds(spark, op):
    """Both branches of the byte-cap gate return IDENTICAL rows on a
    graph mixing a chain, a tangle, a tree, a clique and an island:
    the session default takes the local branch, threshold=-1 the
    distributed one (the 100 TB path). The broadcast-gated operators
    run a BroadcastHashJoin on the local branch and none on the
    distributed one (CC's local branch is a kernel task instead)."""
    runs = {}
    for thr in (None, "-1"):
        with _broadcast_threshold(spark, thr):
            since = _last_execution_id(spark)
            rows = sorted(tuple(r) for r in _GRAPH_OPS[op](spark).collect())
            plans = _plans_since(spark, since)
        runs[thr] = rows, any("BroadcastHashJoin" in p for p in plans)
    assert runs[None][0] == runs["-1"][0] and len(runs[None][0]) > 0
    if op != "connected_components":
        assert runs[None][1] and not runs["-1"][1]


def test_nonconvergence_raises(spark):
    """Exhausting max_iter without a fixpoint is an error, not a silent
    wrong answer."""
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # disable the byte-cap local finish (it would legitimately solve
    # 64 edges in one kernel task without any rounds)
    with _broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match="did not converge"):
            graph.connected_components(df, max_iter=1)


def test_lpa_sym_edges_multiset_matches_edges_path(spark):
    """Duplicates in the directed (s, d) multiset are deduped in place
    on the partitioned cache: a x3-duplicated input must produce the
    labels of the distinct input — duplicates must not skew any
    round's vote counts."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (2, 4)]
    sym = edges + [(v, u) for u, v in edges]
    base = {
        (r.node, r.label)
        for r in graph.label_propagation(
            spark.createDataFrame(sym, "s long, d long"), n_iter=3
        ).collect()
    }
    got = {
        (r.node, r.label)
        for r in graph.label_propagation(
            spark.createDataFrame(sym * 3, "s long, d long"), n_iter=3
        ).collect()
    }
    assert got == base and len(got) == 8


def test_lpa_edge_in_both_orientations_votes_once(spark):
    """An undirected edge listed in both orientations ((2,5) and
    (5,2)) is ONE edge: its symmetrized multiset holds (2,5) twice,
    and the labels must equal the Python replay of the distinct graph
    — node 2 ties 5 vs 3 and takes the min, 3 (a double-counted
    (2,5) would make it 5)."""
    edges = [(2, 5), (5, 2), (2, 3)]
    sym = spark.createDataFrame(
        edges + [(v, u) for u, v in edges], "s long, d long"
    )
    for n_iter in (1, 3):
        got = {
            r.node: r.label
            for r in graph.label_propagation(sym, n_iter=n_iter).collect()
        }
        assert got == _lpa_reference(edges, n_iter), f"n_iter={n_iter}"
    assert _lpa_reference(edges, 1)[2] == 3


def test_triangle_multiset_matches_edges_path(spark):
    """Duplicates in the canonical (u < v) multiset are deduped in
    place on the partitioned cache: a x3-duplicated input must produce
    the per-node triangle counts of the distinct input."""
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    base = sorted(
        (r.node, r.n_tri) for r in graph.triangle_counts(df).collect()
    )
    dup = df.unionAll(df).unionAll(df)  # x3 duplicates
    got = sorted(
        (r.node, r.n_tri) for r in graph.triangle_counts(dup).collect()
    )
    assert got == base and len(got) == 4


@pytest.mark.parametrize(
    "setting,parsed",
    [("-1", -1), ("0", 0), ("10485760b", 10 << 20), ("10m", 10 << 20),
     ("1g", 1 << 30)],
)
def test_byte_cap_gate_rule(spark, setting, parsed):
    """The gate parses the threshold like Spark, takes the local
    branch only while broadcasts are enabled, and caps at 64 MB of
    32-byte rows: 2,097,152 rows fit, 2,097,153 do not."""
    assert graph._parse_size_bytes(setting) == parsed
    with _broadcast_threshold(spark, setting):
        assert graph._fits_cap(spark, "unit", 2_097_152) is (parsed > 0)
        assert graph._fits_cap(spark, "unit", 2_097_153) is False


def test_gate_decisions_reported_through_metrics_log(spark):
    """Each gate decision is one debug line through metrics.log with
    the step, rows, estimated bytes, cap and branch taken."""
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]  # 5 edges, 4 nodes
    df = spark.createDataFrame(edges, "u long, v long")
    got = []
    prev_cb, prev_level = metrics._log_callback, metrics._log_level
    metrics.set_log_callback(lambda lv, m: got.append((lv, m)))
    metrics.set_log_level("debug")
    try:
        for thr, branch in ((None, "local"), ("-1", "distributed")):
            got.clear()
            with _broadcast_threshold(spark, thr):
                graph.triangle_counts(df).collect()
            assert [lv for lv, _ in got] == ["debug", "debug"]
            steps = [m.split(": ")[0] for _, m in got]
            assert steps == [
                "gate triangle_counts.orient", "gate triangle_counts.strategy"
            ]
            fields = [
                dict(kv.split("=") for kv in m.split(": ")[1].split())
                for _, m in got
            ]
            assert [
                (f["rows"], f["est_bytes"], f["cap"], f["branch"])
                for f in fields
            ] == [
                ("4", "128", str(64 << 20), branch),
                ("5", "160", str(64 << 20), branch),
            ]
    finally:
        metrics._log_callback = prev_cb
        metrics.set_log_level(prev_level)


def test_components_duplicate_edges_local_path(spark):
    """The local-finish path takes RAW (possibly duplicated) edges —
    connectivity must be unaffected by multiplicity or self-loops."""
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in graph.connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}
