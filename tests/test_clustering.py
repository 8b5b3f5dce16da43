"""Connected components vs an independent union-find oracle (T2b), on
both closure paths: the driver finish and the distributed star rounds."""

import random

import pytest

from entity_resolution_pipeline_spark.operators import clustering
from entity_resolution_pipeline_spark.operators.clustering import (
    assign_clusters, update_clusters,
)
from entity_resolution_pipeline_spark.operators.scoring import release_persisted


def union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


class CCPath:
    """One closure path for a test, chosen with ``_DRIVER_CC_MAX_EDGES``:

    - ``driver``: the default budget, every graph here finishes on the
      driver without a star round;
    - ``rounds``: budget 0, star rounds to the fixpoint;
    - ``mixed``: the edges are fed in both directions and the budget sits
      between the converged star frontier (one edge per non-minimum node)
      and the deduplicated input, so rounds run and the driver finishes.

    Spies record, per ``connected_components`` call, the star rounds run
    and whether the driver finished; ``check`` asserts the path was taken.
    """

    def __init__(self, mode, monkeypatch):
        self.mode, self.mp, self.calls = mode, monkeypatch, []
        if mode == "rounds":
            monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
        cc, star, finish = (clustering.connected_components,
                            clustering._small_star, clustering._driver_finish)

        def spy_cc(*args, **kwargs):
            self.calls.append({"rounds": 0, "driver": False})
            return cc(*args, **kwargs)

        def spy_star(e):
            self.calls[-1]["rounds"] += 1
            return star(e)

        def spy_finish(e):
            self.calls[-1]["driver"] = True
            return finish(e)

        monkeypatch.setattr(clustering, "connected_components", spy_cc)
        monkeypatch.setattr(clustering, "_small_star", spy_star)
        monkeypatch.setattr(clustering, "_driver_finish", spy_finish)

    def edges(self, edges, contract=None):
        """The edge list to feed. In mixed mode: both directions, and the
        budget set for the graph the closure will see (``contract`` maps
        endpoints to prior cluster ids, as update_clusters does)."""
        if self.mode != "mixed":
            return edges
        both = edges + [(b, a) for a, b in edges]
        lab = contract or {}
        seen = {(lab.get(a, a), lab.get(b, b)) for a, b in both}
        seen = {(a, b) for a, b in seen if a != b}
        converged = sum(1 for n, r in union_find_oracle(seen).items() if n != r)
        assert len(seen) > converged, "no budget between the two"
        self.mp.setattr(clustering, "_DRIVER_CC_MAX_EDGES",
                        (converged + len(seen)) // 2)
        return both

    def check(self):
        assert self.calls
        if self.mode == "driver":
            assert all(c == {"rounds": 0, "driver": True} for c in self.calls)
        elif self.mode == "rounds":
            assert all(c["rounds"] > 0 and not c["driver"] for c in self.calls)
        else:
            assert any(c["rounds"] > 0 and c["driver"] for c in self.calls)


@pytest.fixture
def cc_path(request, monkeypatch):
    """The driver path unless parametrized indirectly with another mode."""
    path = CCPath(getattr(request, "param", "driver"), monkeypatch)
    yield path
    path.check()


# the tests taking ``cc_path`` run the default driver finish under their own
# ids; each has a ``_distributed`` twin for the other two paths
ON_DISTRIBUTED_PATHS = pytest.mark.parametrize(
    "cc_path", ["rounds", "mixed"], indirect=True)
CC_CASES = [(50, 40, 1), (200, 150, 2), (100, 300, 3)]
UPDATE_CASES = [(120, 90, 7), (80, 200, 8)]


@pytest.mark.parametrize("n_nodes,n_edges,seed", CC_CASES)
def test_cc_matches_union_find(spark, cc_path, n_nodes, n_edges, seed):
    rng = random.Random(seed)
    edges = [(f"n{rng.randrange(n_nodes):04d}", f"n{rng.randrange(n_nodes):04d}")
             for _ in range(n_edges)]
    edges = cc_path.edges([(a, b) for a, b in edges if a != b])
    oracle = union_find_oracle(edges)
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r["url"]: r["cluster_id"]
           for r in clustering.connected_components(df).collect()}
    # oracle roots are min-ids because union always keeps the smaller root
    assert got == oracle


@ON_DISTRIBUTED_PATHS
@pytest.mark.parametrize("n_nodes,n_edges,seed", CC_CASES)
def test_cc_matches_union_find_distributed(spark, cc_path, n_nodes, n_edges, seed):
    test_cc_matches_union_find(spark, cc_path, n_nodes, n_edges, seed)


def test_cc_chain_and_singleton(spark, cc_path):
    # a long path exercises the iterative contraction (diameter >> 1)
    chain = cc_path.edges([(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)])
    nodes = spark.createDataFrame(
        [(f"c{i:03d}",) for i in range(61)] + [("lonely",)], "url: string")
    edges = spark.createDataFrame(chain, "src: string, dst: string")
    labels = {r["url"]: r["cluster_id"] for r in assign_clusters(nodes, edges).collect()}
    assert all(labels[f"c{i:03d}"] == "c000" for i in range(61))
    assert labels["lonely"] == "lonely"


@ON_DISTRIBUTED_PATHS
def test_cc_chain_and_singleton_distributed(spark, cc_path):
    test_cc_chain_and_singleton(spark, cc_path)


def test_cc_self_loops_and_duplicates(spark, cc_path):
    edges = spark.createDataFrame(
        cc_path.edges([("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")]),
        "src: string, dst: string")
    got = {r["url"]: r["cluster_id"]
           for r in clustering.connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a"}


@ON_DISTRIBUTED_PATHS
def test_cc_self_loops_and_duplicates_distributed(spark, cc_path):
    test_cc_self_loops_and_duplicates(spark, cc_path)


@pytest.mark.parametrize("budget", [clustering._DRIVER_CC_MAX_EDGES, -1],
                         ids=["driver", "rounds"])
def test_cc_self_loops_only_is_empty_and_typed(spark, monkeypatch, budget):
    """A frontier of self-loops only dedups to no edges: empty labels with
    the (url, cluster_id) string schema, from the driver finish and from the
    distributed labels alike (budget -1 never finishes on the driver)."""
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", budget)
    edges = spark.createDataFrame([("a", "a"), ("b", "b"), ("a", "a")],
                                  "src: string, dst: string")
    out = clustering.connected_components(edges)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("url", "string"), ("cluster_id", "string")]
    assert out.collect() == []
    release_persisted(out)


def test_cc_kill_after_iteration_k_resumes_to_identical_clusters(
        spark, tmp_path, monkeypatch):
    """Mid-stage resume (SURVEY §7.4 risk 4): kill the star iteration after
    round 1, then resume from the committed frontier — final labels must be
    identical to an uninterrupted run, and the resumed run must start from
    the recorded iteration (audit rows prove per-round commits). Pinned to
    the distributed rounds: the chain would otherwise finish on the driver
    before any round commits a frontier."""
    from entity_resolution_pipeline_spark.sources.tableio import TableIO

    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
    # 60-node path: diameter forces several large/small-star rounds
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)]
    edges = spark.createDataFrame(chain, "src: string, dst: string")
    full = {r["url"]: r["cluster_id"]
            for r in clustering.connected_components(edges).collect()}

    io = TableIO(spark, str(tmp_path / "cc_ckpt"))
    # "killed" run: only 1 round executes, frontier committed at iteration 1
    clustering.connected_components(edges, max_iter=1, checkpoint_io=io).collect()
    assert io.is_committed("cc_frontier")
    assert io.committed_meta("cc_frontier")["iteration"] == 1

    resumed = {r["url"]: r["cluster_id"]
               for r in clustering.connected_components(
                   edges, checkpoint_io=io).collect()}
    assert resumed == full

    audit = io.read_audit()
    iters = [a["cc_iteration"] for a in audit if "cc_iteration" in a]
    assert iters and iters[0] == 1 and iters == sorted(iters)
    # resumed run continued from iteration 2, never re-ran round 1
    assert iters.count(1) == 1


@pytest.mark.parametrize("n_nodes,n_edges,seed", UPDATE_CASES)
def test_update_clusters_equals_full_recompute(spark, cc_path, n_nodes,
                                               n_edges, seed):
    """update_clusters(cluster(E1), E2) == cluster(E1 ∪ E2), including
    brand-new nodes that only appear in the delta."""
    rng = random.Random(seed)
    edges = [(f"n{rng.randrange(n_nodes):04d}", f"n{rng.randrange(n_nodes):04d}")
             for _ in range(n_edges)]
    edges = [(a, b) for a, b in edges if a != b]
    cut = len(edges) * 2 // 3
    e1, e2 = edges[:cut], edges[cut:]
    # delta also introduces nodes the prior run never saw
    e2 += [(f"x{i:02d}", f"n{rng.randrange(n_nodes):04d}") for i in range(5)]
    e2 = cc_path.edges(e2, contract=union_find_oracle(e1))
    nodes = sorted({x for ab in (e1 + e2) for x in ab} | {"lonely"})

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "url: string")
    e1_df = spark.createDataFrame(e1, "src: string, dst: string")
    e2_df = spark.createDataFrame(e2, "src: string, dst: string")

    prior = assign_clusters(nodes_df, e1_df)
    got = {r["url"]: r["cluster_id"]
           for r in update_clusters(prior, e2_df,
                                    new_nodes=nodes_df).collect()}
    full = spark.createDataFrame(e1 + e2, "src: string, dst: string")
    want = {r["url"]: r["cluster_id"]
            for r in assign_clusters(nodes_df, full).collect()}
    assert got == want
    assert got["lonely"] == "lonely"  # untouched singleton survives


@ON_DISTRIBUTED_PATHS
@pytest.mark.parametrize("n_nodes,n_edges,seed", UPDATE_CASES)
def test_update_clusters_equals_full_recompute_distributed(
        spark, cc_path, n_nodes, n_edges, seed):
    test_update_clusters_equals_full_recompute(spark, cc_path, n_nodes, n_edges, seed)


def test_update_clusters_chain_merge_across_priors(spark, cc_path):
    """A delta edge chain that threads several prior clusters merges them
    all to the global min id."""
    e1 = [("a1", "a2"), ("b1", "b2"), ("c1", "c2")]
    nodes = spark.createDataFrame(
        [(n,) for n in ["a1", "a2", "b1", "b2", "c1", "c2"]], "url: string")
    prior = assign_clusters(
        nodes, spark.createDataFrame(e1, "src: string, dst: string"))
    delta = spark.createDataFrame(
        cc_path.edges([("a2", "b1"), ("b2", "c1")],
                      contract=union_find_oracle(e1)),
        "src: string, dst: string")
    got = {r["url"]: r["cluster_id"]
           for r in update_clusters(prior, delta).collect()}
    assert set(got.values()) == {"a1"} and len(got) == 6


@ON_DISTRIBUTED_PATHS
def test_update_clusters_chain_merge_across_priors_distributed(spark, cc_path):
    test_update_clusters_chain_merge_across_priors(spark, cc_path)


def _run_counting_jobs(spark, fn, group):
    """``fn()`` inside job group ``group``; returns (result, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdds(spark):
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _assert_released(spark, run):
    """``run()`` returns a result DataFrame after materializing it;
    release_persisted must then leave no new persistent RDD and no
    CacheManager entry behind (the check of
    test_plan_shapes.test_formerly_leaking_rows_release_all_caches)."""
    before, cache_was_empty = _persistent_rdds(spark), _cache_empty(spark)
    release_persisted(run())
    assert not _persistent_rdds(spark) - before
    assert _cache_empty(spark) or not cache_was_empty


def _random_edges(n_edges, n_nodes, seed):
    rng = random.Random(seed)
    return [(f"r{rng.randrange(n_nodes):03d}", f"r{rng.randrange(n_nodes):03d}")
            for _ in range(n_edges)]


@pytest.mark.parametrize("edges", [
    [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)],
    _random_edges(16, 24, 11),
], ids=["chain60", "random16"])
def test_cc_job_budget_and_release(spark, monkeypatch, edges):
    """connected_components plus one count(): at most 5 Spark jobs on the
    driver finish (dedup checkpoint, collect, the count), the same number
    on every run; both paths release every checkpoint."""
    df = spark.createDataFrame(edges, "src: string, dst: string")

    def cc_count():
        out = clustering.connected_components(df)
        out.count()
        return out

    runs = [_run_counting_jobs(spark, cc_count, f"cc-{len(edges)}-{i}")
            for i in range(2)]
    jobs = [n for _, n in runs]
    for out, _ in runs:
        release_persisted(out)
    assert jobs[0] == jobs[1] <= 5, jobs
    _assert_released(spark, cc_count)
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
    _assert_released(spark, cc_count)


def test_update_clusters_job_budget_and_release(spark, tmp_path, monkeypatch):
    """A 16-edge delta folded into a 400-row prior, plus the parquet write
    of the result: at most 8 Spark jobs, the same number on every run; both
    paths release every checkpoint. Inputs are parquet tables, as on the
    incremental path (committed clusters, committed delta scores)."""
    rng = random.Random(5)
    new = [f"x{i:02d}" for i in range(8)]
    delta = [(f"p{rng.randrange(400):03d}", f"p{rng.randrange(400):03d}")
             for _ in range(8)] + [(u, f"p{rng.randrange(400):03d}") for u in new]

    def table(name, rows, schema):
        spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    prior = table("prior", [(f"p{i:03d}", f"p{i - i % 2:03d}") for i in range(400)],
                  "url: string, cluster_id: string")
    delta_df = table("delta", delta, "src: string, dst: string")
    new_df = table("new", [(u,) for u in new], "url: string")

    def fold(path):
        def run():
            out = update_clusters(prior, delta_df, new_nodes=new_df)
            out.write.mode("overwrite").parquet(str(tmp_path / path))
            return out
        return run

    runs = [_run_counting_jobs(spark, fold(f"run{i}"), f"update-{i}")
            for i in range(2)]
    jobs = [n for _, n in runs]
    for out, _ in runs:
        release_persisted(out)
    assert jobs[0] == jobs[1] <= 8, jobs
    _assert_released(spark, fold("release"))
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
    _assert_released(spark, fold("release_rounds"))
