"""Iterative-graph validation the SQL oracle can't cover (SURVEY §5.2-3):
PageRank against a NumPy power-iteration reference on the same edges, and
invariants (probability mass, BFS/CC consistency)."""

from __future__ import annotations

import numpy as np
import pytest

from naqed_spark.queries.graph import user_edges
from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = "/root/testdata/sf0.001"

load_all()


@pytest.fixture(scope="module")
def spark():
    return tune_session(get_spark("naqed-graph-tests"))


def test_pagerank_matches_numpy(spark):
    edges = [(r.src, r.dst) for r in user_edges(spark, SF_DIR).collect()]
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(10):
        inflow = np.zeros(n)
        for s, d in edges:
            inflow[idx[d]] += pr[idx[s]] / outdeg[idx[s]]
        dangling = pr[outdeg == 0].sum()
        pr = 0.15 / n + 0.85 * (inflow + dangling / n)

    got = {
        r.v: r.pagerank
        for r in QUERIES["graph_pagerank_fixed"](spark, SF_DIR).collect()
    }
    assert set(got) == set(verts)
    assert abs(sum(got.values()) - 1.0) < 1e-3  # probability mass conserved
    for v in verts:
        assert abs(got[v] - pr[idx[v]]) < 1e-5, (v, got[v], pr[idx[v]])


def test_bfs_dist_zero_is_source(spark):
    rows = QUERIES["graph_reachability_bfs"](spark, SF_DIR).collect()
    dists = {r.user_id: r.dist for r in rows}
    assert dists.get(0) == 0
    assert all(d >= 0 for d in dists.values())


def test_connected_components_labels_are_members(spark):
    rows = QUERIES["graph_connected_components"](spark, SF_DIR).collect()
    comp = {r.user_id: r.component for r in rows}
    # a component label is the min vertex id of the component → must itself
    # be a vertex carrying its own label
    for label in set(comp.values()):
        assert comp[label] == label


def test_scc_adversarial_graphs(spark):
    """The SCC coloring loop on hand-built graphs: a chain of two cycles
    joined by a one-way bridge (two SCCs, forcing a second outer round),
    a pure DAG (every vertex its own SCC), and a full cycle (one SCC)."""
    from naqed_spark.queries.graph import scc_labels

    def run(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["v"]: r["scc"] for r in scc_labels(spark, df).collect()
        }

    # cycle {0,1,2} -> bridge -> cycle {10,11}
    two = run([(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)])
    assert two == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}

    # DAG: all singleton SCCs
    dag = run([(1, 2), (2, 3), (1, 3), (3, 4)])
    assert dag == {1: 1, 2: 2, 3: 3, 4: 4}

    # one big cycle
    cyc = run([(5, 6), (6, 7), (7, 8), (8, 5)])
    assert cyc == {5: 5, 6: 5, 7: 5, 8: 5}


def test_scc_empty_edges_returns_empty_frame(spark):
    """ADVICE r6: an empty edge frame used to leave `done = None` and crash
    graph_scc with AttributeError; now it yields an empty (v, scc) frame."""
    from naqed_spark.queries.graph import scc_labels

    df = spark.createDataFrame([], "src long, dst long")
    out = scc_labels(spark, df)
    assert [f.name for f in out.schema.fields] == ["v", "scc"]
    assert out.count() == 0


def test_scc_pinned_rdds_flat_across_supersteps(spark):
    """VERDICT r6 item 7: the coloring loop retains O(1) checkpoint state —
    after a multi-round SCC run the number of NEW pinned RDD ids is the
    live frontier (done/verts/edges + fixpoint labels), not one per
    superstep. A 2-SCC bridge graph forces >= 2 outer rounds and several
    inner supersteps; without the per-step unpersist this pins ~15+ ids."""
    from naqed_spark.queries.graph import scc_labels
    from naqed_spark.session import persistent_rdd_ids, unpersist_rdds

    before = persistent_rdd_ids(spark)
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)],
        "src long, dst long",
    )
    done = scc_labels(spark, df)
    got = {r["v"]: r["scc"] for r in done.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}
    mine = persistent_rdd_ids(spark) - before
    assert len(mine) <= 5, f"checkpoint leak: {len(mine)} new pinned RDDs"
    unpersist_rdds(spark, mine)


def test_fixpoint_loops_pinned_rdds_flat(spark):
    """VERDICT r6 item 7 (extended r7): ALL the per-superstep fixpoint
    loops — BFS, Bellman-Ford, CC, PageRank, dedup label propagation — now
    trim superseded checkpoints each round (session.trim_pins), so a full
    run leaves only the live result frames pinned, not one id per
    superstep. Each bound below is (live checkpoints + persisted inputs
    a caller may still free) with slack 1, far under the per-superstep
    count the un-trimmed loops pinned."""
    from naqed_spark.registry import QUERIES
    from naqed_spark.session import persistent_rdd_ids, unpersist_rdds

    # (key, max pinned ids after a full run at sf0.001). Each bound
    # carries +1 since r16: user_edges scoped-persists its parsed-events
    # projection in addition to the edge table (a constant per key,
    # released at the next query build — per-SUPERSTEP growth is still
    # what this test pins).
    bounds = [
        ("graph_reachability_bfs", 5),      # nxt + visited (+ slack)
        ("graph_shortest_path_weighted", 4),  # dist (+ slack)
        ("graph_connected_components", 4),  # labels (+ slack)
        ("graph_pagerank_fixed", 6),        # ranks + verts cache (+ slack)
    ]
    for key, bound in bounds:
        before = persistent_rdd_ids(spark)
        QUERIES[key](spark, SF_DIR).collect()
        mine = persistent_rdd_ids(spark) - before
        assert len(mine) <= bound, (
            f"{key}: checkpoint leak — {len(mine)} new pinned RDDs"
        )
        unpersist_rdds(spark, mine)


@pytest.mark.quick
def test_pregel_chain_halts_after_diameter_plus_one_with_no_extra_jobs(
    spark, monkeypatch
):
    """The superstep driver on a chain 0→1→…→D: BFS reaches every vertex
    in D supersteps and the (D+1)-th finds no frontier and halts. The
    halt count is observed on the checkpoint job, so isEmpty/count/
    collect may not run inside the loop, and the superseded checkpoint
    is released every superstep, so the pinned-RDD count stays flat."""
    from pyspark.sql import functions as F

    from naqed_spark import session
    from naqed_spark.queries.graph import _bfs
    from naqed_spark.session import persistent_rdd_ids, unpersist_rdds

    diameter = 6
    edges = spark.range(diameter).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    start = spark.range(1).select(F.col("id").alias("v"), F.lit(0).alias("d"))
    before = persistent_rdd_ids(spark)
    pinned = []

    def banned(*_a, **_k):
        raise AssertionError("an extra Spark job ran inside the loop")

    real_id = session.checkpoint_rdd_id

    def id_after_release(df):
        # pregel asks for the new checkpoint's id once per superstep,
        # right after releasing the one it superseded
        pinned.append(len(persistent_rdd_ids(spark) - before))
        return real_id(df)

    with monkeypatch.context() as m:
        for name in ("isEmpty", "count", "collect"):
            m.setattr(type(start), name, banned)
        m.setattr(session, "checkpoint_rdd_id", id_after_release)
        out = _bfs(spark, start, edges, 100)

    assert [n for n, _ in out.supersteps] == [1] * diameter + [0]
    assert pinned == [1] * (diameter + 1)  # only the live state checkpoint
    assert {r["v"]: r["d"] for r in out.collect()} == {
        v: v for v in range(diameter + 1)
    }
    unpersist_rdds(spark, persistent_rdd_ids(spark) - before)


@pytest.mark.quick
def test_pregel_cap_raises_and_fixed_loops_run_every_step(spark):
    """Active rows left at the cap raise FixpointError (an unconverged
    result is never returned); a loop without ``active`` runs exactly
    ``max_steps`` supersteps and reports no active counts."""
    from pyspark.sql import functions as F

    from naqed_spark.session import FixpointError, pregel

    start = spark.range(3).select(F.col("id").alias("x"))

    def inc(df, _):
        return df.select((F.col("x") + 1).alias("x"))

    with pytest.raises(FixpointError, match="after 4 supersteps"):
        pregel(spark, start, inc, 4, active=F.col("x") < 100)
    out = pregel(spark, start, inc, 4)
    assert [n for n, _ in out.supersteps] == [None] * 4
    assert sorted(r["x"] for r in out.collect()) == [4, 5, 6]


@pytest.mark.quick
@pytest.mark.parametrize("session_n, want", [("4", "4"), ("16", "8")])
def test_low_shuffle_never_raises_the_session_setting(spark, session_n, want):
    """low_shuffle caps superstep parallelism at 8; on a session set
    below that (a small host) it must keep the session's own value."""
    from naqed_spark.session import low_shuffle

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, session_n)
    try:
        with low_shuffle(spark):
            assert spark.conf.get(key) == want
        assert spark.conf.get(key) == session_n
    finally:
        spark.conf.set(key, prev)
