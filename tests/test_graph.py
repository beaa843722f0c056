"""Link-graph ranking: distributed PageRank and HITS (vs a numpy
power-iteration reference; dangling handling; probability
conservation)."""

import numpy as np
import pytest

from trial_submission_studio_spark.operators.graph import pagerank
from trial_submission_studio_spark.sources.local import values_df


def _numpy_pagerank(n, edges, iterations, d=0.85):
    """Dense power iteration with uniform dangling redistribution —
    the textbook formulation the operator must match."""
    out = {}
    for s, t in edges:
        out.setdefault(s, set()).add(t)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        new = np.full(n, (1.0 - d) / n)
        dangling = sum(r[s] for s in range(n) if s not in out)
        new += d * dangling / n
        for s, ts in out.items():
            for t in ts:
                new[t] += d * r[s] / len(ts)
        r = new
    return r


GRAPH = [
    (0, 1), (0, 2), (1, 2), (2, 0), (3, 2),  # 4 linked + dangling 4
    (4, 4),  # self loop
    (5, 2),  # 6th node links in, nothing links to 5
]


def test_pagerank_matches_numpy_reference(spark):
    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank(edges, iterations=12).collect()}
    ref = _numpy_pagerank(6, GRAPH, iterations=12)
    assert set(got) == set(range(6))
    for i in range(6):
        assert got[i] == pytest.approx(ref[i], abs=1e-9), i
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # sanity: the hub (2) outranks the unlinked source (5)
    assert got[2] > got[5]


def test_pagerank_dangling_only_graph(spark):
    # one edge into a sink: mass must keep recirculating, sum == 1
    edges = values_df(spark, [(0, 1)], "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
    ref = _numpy_pagerank(2, [(0, 1)], iterations=8)
    assert got[0] == pytest.approx(ref[0], abs=1e-9)
    assert got[1] == pytest.approx(ref[1], abs=1e-9)


def test_pagerank_convergence_early_exit(spark):
    """tol: the loop stops once max |Δrank| < tol. A huge tol stops
    after exactly one iteration (result == the 1-iteration run); a
    tight tol under a generous iteration budget lands on the
    converged fixed point (== a long numpy run)."""
    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    one = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    stopped = {
        r.node: r.rank
        for r in pagerank(edges, iterations=50, tol=10.0).collect()
    }
    assert stopped == pytest.approx(one)
    converged = {
        r.node: r.rank
        for r in pagerank(edges, iterations=200, tol=1e-12).collect()
    }
    ref = _numpy_pagerank(6, GRAPH, iterations=300)
    for i in range(6):
        assert converged[i] == pytest.approx(ref[i], abs=1e-9), i
    assert sum(converged.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_tol_check_every_amortizes_probe(spark):
    """tol_check_every=k probes every k-th iteration: with a huge tol
    the loop now runs exactly k iterations before the first (passing)
    probe — result == the k-iteration fixed run; a tight tol still
    lands on the converged fixed point. k<1 is rejected."""
    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    three = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    stopped = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=50, tol=10.0, tol_check_every=3
        ).collect()
    }
    assert stopped == pytest.approx(three)
    converged = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=200, tol=1e-12, tol_check_every=5
        ).collect()
    }
    ref = _numpy_pagerank(6, GRAPH, iterations=300)
    for i in range(6):
        assert converged[i] == pytest.approx(ref[i], abs=1e-9), i
    with pytest.raises(ValueError, match="tol_check_every"):
        pagerank(edges, tol=1e-6, tol_check_every=0)


def test_checkpoint_stats_double_when_prev_referenced_twice(spark):
    """Regression pin for the docstring's measured rationale: local-
    checkpointing a plan that references the previous checkpoint
    TWICE (the shape a folded Δ-probe would have) doubles the stats
    estimate's bit length every iteration — after a handful of steps
    the BigInt estimate is already thousands of bits, which is why
    pagerank/hits keep the convergence probe un-checkpointed."""
    from pyspark.sql import functions as F

    df = (
        spark.range(20)
        .select(F.col("id").alias("node"), F.lit(1.0).alias("rank"))
        .localCheckpoint()
    )
    bits = []
    for _ in range(6):
        prev = df
        step = prev.select("node", (F.col("rank") * 0.9).alias("rank"))
        joined = step.join(
            prev.select("node", F.col("rank").alias("__prev")), "node"
        )
        df = joined.select("node", "rank").localCheckpoint()
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        bits.append(int(sz).bit_length())
    # strictly super-linear growth: each step at least ~doubles
    assert all(b2 >= 2 * b1 - 4 for b1, b2 in zip(bits, bits[1:])), bits
    assert bits[-1] > 100, bits


def test_pagerank_duplicate_edges_and_validations(spark):
    dup = values_df(
        spark, [(0, 1), (0, 1), (1, 0)], "src bigint, dst bigint"
    )
    got = {r.node: r.rank for r in pagerank(dup, iterations=6).collect()}
    ref = _numpy_pagerank(2, [(0, 1), (1, 0)], iterations=6)
    assert got[0] == pytest.approx(ref[0], abs=1e-9)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(dup, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(dup, damping=1.0)


def test_crawl_graph_composition(spark):
    """Page links → domain edges → pagerank: the crawl-governance
    chain; a domain every page links to outranks the rest."""
    from pyspark.sql import functions as F

    from trial_submission_studio_spark.operators.urls import url_registered_domain

    links = values_df(
        spark,
        [
            (1, "https://hub.example.com/a", "https://www.source-one.net/"),
            (2, "https://hub.example.com/b", "https://www.source-two.net/"),
            (3, "https://www.source-one.net/c", "https://hub.example.com/"),
        ],
        "id bigint, href string, url string",
    )
    edges = (
        links.select(url_registered_domain("url").alias("src"), "href")
        .select("src", url_registered_domain("href").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # 40 iterations: the 3-node cycle's oscillating mode decays as
    # 0.85^k — 10 iterations is not yet converged
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=40).collect()}
    assert set(ranks) == {"example.com", "source-one.net", "source-two.net"}
    assert max(ranks, key=ranks.get) == "example.com"  # eTLD+1 of the hub


def test_pagerank_step_plan_shape(spark):
    """The iteration step's plan: cartesian-free except the designed
    1-ROW broadcast dangling-mass join (BroadcastNestedLoopJoin over
    an aggregate, never a row-by-row product)."""
    from pyspark.sql import functions as F

    from trial_submission_studio_spark.operators.graph import _pagerank_step

    edges = values_df(
        spark, [(0, 1), (1, 2), (2, 0), (3, 0)], "src bigint, dst bigint"
    )
    nodes = edges.selectExpr("src AS node").union(edges.selectExpr("dst")).distinct()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = edges.join(out_deg, "src")
    ranks = nodes.withColumn("rank", F.lit(0.25))
    dangling = nodes.join(out_deg, nodes["node"] == out_deg["src"], "left_anti")
    step = _pagerank_step(nodes, ed, ranks, dangling, 4, 0.85)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _numpy_hits(n, edges, iterations):
    """Dense HITS with per-iteration L2 normalization; auth updates
    from the current hub, hub from the NEW auth (Kleinberg order)."""
    E = np.zeros((n, n))
    for s, t in set(edges):
        E[s, t] = 1.0
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(iterations):
        a = E.T @ h
        na = np.linalg.norm(a)
        if na > 0:
            a = a / na
        h = E @ a
        nh = np.linalg.norm(h)
        if nh > 0:
            h = h / nh
    return h, a


def test_hits_matches_numpy_reference(spark):
    from trial_submission_studio_spark.operators.graph import hits

    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    got = {r.node: (r.hub, r.authority) for r in hits(edges, iterations=12).collect()}
    h, a = _numpy_hits(6, GRAPH, iterations=12)
    assert set(got) == set(range(6))
    for i in range(6):
        assert got[i][0] == pytest.approx(h[i], abs=1e-9), ("hub", i)
        assert got[i][1] == pytest.approx(a[i], abs=1e-9), ("auth", i)
    # node 2 receives the most links -> top authority; 0 links to two
    # strong authorities -> top hub
    top_auth = max(got, key=lambda n: got[n][1])
    assert top_auth == 2


def test_hits_tol_early_exit_converges(spark):
    from trial_submission_studio_spark.operators.graph import hits

    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    got = {
        r.node: (r.hub, r.authority)
        for r in hits(edges, iterations=200, tol=1e-12).collect()
    }
    h, a = _numpy_hits(6, GRAPH, iterations=300)
    for i in range(6):
        assert got[i][0] == pytest.approx(h[i], abs=1e-8), i
        assert got[i][1] == pytest.approx(a[i], abs=1e-8), i
    # L2 norms are 1
    assert sum(v[0] ** 2 for v in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(v[1] ** 2 for v in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_hits_validations_and_empty(spark):
    from trial_submission_studio_spark.operators.graph import hits

    edges = values_df(spark, GRAPH, "src bigint, dst bigint")
    with pytest.raises(ValueError):
        hits(edges, iterations=0)
    empty = values_df(spark, [], "src bigint, dst bigint")
    assert hits(empty, iterations=2).count() == 0
