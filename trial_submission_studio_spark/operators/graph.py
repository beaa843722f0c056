"""Link-graph ranking: distributed PageRank over an edge DataFrame —
the CommonCrawl-style domain/page authority signal a crawl-governance
pipeline uses next to content quality (rank feeds crawl scheduling,
spam-domain downweighting, and corpus mix priors).

Spark-first shape:

- The graph IS two DataFrames: ``edges(src, dst)`` and the derived
  out-degree table. Each power-iteration step is one broadcast-free
  equi-join (edge × current rank, co-partitioned on ``src`` after the
  first iteration — Spark reuses the hash partitioning) plus one
  ``groupBy(dst).sum`` with map-side partial aggregation. No
  adjacency lists in driver memory, no RDDs.
- **Dangling nodes** (no out-edges) are handled the standard way:
  their rank mass is summed (a 1-row aggregate) and redistributed
  uniformly each iteration, so ranks stay a probability distribution
  (asserted in tests to 1e-9).
- **Lineage control**: every iteration ends in ``localCheckpoint``
  (same discipline as connected components, `dedup.py`) so the plan
  stays O(1) deep instead of O(iterations).
- At 100 TB-scale graphs the per-iteration cost is the edge shuffle;
  a production run co-partitions edges once (``repartition(src)``)
  and every subsequent join reuses that layout. Hot destination
  pages (the whole web links to them) are absorbed by map-side
  combine in the sum — the classic reason PageRank fits
  shuffle-reduce engines.

Pairs with `urls.url_registered_domain` (page graph → domain graph). The
reference engine has no graph surface; this belongs to the
training-data extension family (SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "hits"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    dedup_edges: bool = True,
    tol: float | None = None,
    tol_check_every: int = 1,
) -> DataFrame:
    """Rank every node of ``edges`` (directed, undeduped OK) by
    power-iteration PageRank. Returns ``(node, rank)`` with ranks
    summing to 1.

    ``dedup_edges=True`` collapses duplicate (src, dst) pairs first
    (a page linking twice is one edge, the usual web-graph
    convention; pass False to weight by multiplicity). Self-loops
    are kept (they contribute rank to their own node, matching the
    standard matrix formulation on the deduped adjacency).

    ``tol``: convergence-based early exit — stop once
    ``max |Δrank| < tol`` (∞-norm), at most ``iterations`` steps.
    The probe joins the two ALREADY-MATERIALIZED localCheckpoints
    (one O(nodes) job over cached blocks, no lineage recompute) and
    is deliberately NOT folded into the checkpointed step:
    ``localCheckpoint`` preserves the plan's estimated sizeInBytes,
    so checkpointing a (step ⋈ prev) plan makes each iteration's
    estimate ≈ prev², doubling the stat's BIT LENGTH every iteration
    — measured on pyspark 4.1: 18 → 8,428 bits by iteration 9, and
    py4j's BigInteger→int conversion itself overflows at iteration
    10 (Python's 4,300-digit int-parse guard), long before the
    Catalyst BigInt stats OOM the driver around iteration 30. Any
    Δ-pairing necessarily references ``prev`` twice, so the probe
    must stay an un-checkpointed side action; ``tol_check_every=k``
    amortizes it to every k-th iteration instead (converges with at
    most k−1 surplus steps — the standard trade for iteration-bound
    convergence probes). The default ``None`` keeps the
    fixed-iteration behavior with zero per-iteration actions beyond
    the checkpoint.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if tol_check_every < 1:
        raise ValueError("tol_check_every must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if dedup_edges:
        e = e.distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # co-partition the (edge ⋈ out_deg) build once; every iteration's
    # rank join then lands on this layout
    ed = (
        e.join(out_deg, "src")
        .repartition(F.col("src"))
        .localCheckpoint()
    )
    # dangling-node SET is iteration-invariant — compute it once; on
    # dangling-free graphs (most web graphs after edge cleanup) the
    # per-iteration driver action disappears entirely
    dangling_nodes = nodes.join(
        out_deg, nodes["node"] == out_deg["src"], "left_anti"
    ).localCheckpoint()
    has_dangling = dangling_nodes.count() > 0
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes)).localCheckpoint()
    for it in range(iterations):
        prev = ranks
        ranks = _pagerank_step(
            nodes,
            ed,
            prev,
            dangling_nodes if has_dangling else None,
            n_nodes,
            damping,
        ).localCheckpoint()
        if tol is not None and (it + 1) % tol_check_every == 0:
            # probe over the two cached checkpoints only — see the
            # docstring for why this must not be checkpointed itself
            delta = (
                ranks.join(
                    prev.select("node", F.col("rank").alias("__prev")), "node"
                )
                .agg(F.max(F.abs(F.col("rank") - F.col("__prev"))).alias("d"))
                .collect()[0]["d"]
            )
            if delta is not None and delta < tol:
                break
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    dedup_edges: bool = True,
    tol: float | None = None,
    tol_check_every: int = 1,
) -> DataFrame:
    """Kleinberg HITS over ``edges`` → ``(node, hub, authority)``,
    L2-normalized (‖hub‖₂ = ‖authority‖₂ = 1, the textbook
    convention). The complementary signal to :func:`pagerank` for
    crawl governance: authorities are well-linked content pages,
    hubs are directory/link pages — seed lists and spam filters use
    both.

    Per iteration: ``auth = Eᵀ·hub`` then ``hub = E·auth`` — two
    edge equi-joins + two map-side-combined sums + the two 1-row
    norm aggregates folded into one checkpointed frame; same lineage
    discipline as :func:`pagerank` (localCheckpoint per iteration,
    edges co-partitioned once). ``tol`` early-exits on
    ``max |Δauthority| < tol`` via a probe over the two cached
    checkpoints (never checkpointed itself — see the pagerank
    docstring for the measured stats-explosion rationale);
    ``tol_check_every`` amortizes the probe to every k-th
    iteration."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if tol_check_every < 1:
        raise ValueError("tol_check_every must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if dedup_edges:
        e = e.distinct()
    e = e.repartition(F.col("src")).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if nodes.count() == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "authority", F.lit(0.0)
        )
    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    ).localCheckpoint()
    for it in range(iterations):
        prev = scores
        # auth(d) = Σ_{(s,d)∈E} hub(s)
        auth = (
            e.join(
                prev.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("__a"))
        )
        auth_n = nodes.join(
            auth.select(F.col("dst").alias("node"), "__a"), "node", "left"
        ).select(
            "node", F.coalesce(F.col("__a"), F.lit(0.0)).alias("__a")
        )
        # hub(s) = Σ_{(s,d)∈E} auth(d), computed from the NEW auth
        hub = (
            e.join(
                auth_n.select(F.col("node").alias("dst"), "__a"), "dst"
            )
            .groupBy("src")
            .agg(F.sum("__a").alias("__h"))
        )
        joined = (
            nodes.join(
                hub.select(F.col("src").alias("node"), "__h"),
                "node",
                "left",
            )
            .join(auth_n, "node")
            .select(
                "node",
                F.coalesce(F.col("__h"), F.lit(0.0)).alias("__h"),
                "__a",
            )
        )
        # fold both L2 norms in as window-less scalar aggregates via a
        # 1-row crossJoin (inside the plan — one job per iteration)
        norms = joined.agg(
            F.sqrt(F.sum(F.col("__h") * F.col("__h"))).alias("__nh"),
            F.sqrt(F.sum(F.col("__a") * F.col("__a"))).alias("__na"),
        )
        scores = (
            joined.crossJoin(F.broadcast(norms))
            .select(
                "node",
                F.when(F.col("__nh") > 0, F.col("__h") / F.col("__nh"))
                .otherwise(F.lit(0.0))
                .alias("hub"),
                F.when(F.col("__na") > 0, F.col("__a") / F.col("__na"))
                .otherwise(F.lit(0.0))
                .alias("authority"),
            )
            .localCheckpoint()
        )
        if tol is not None and (it + 1) % tol_check_every == 0:
            delta = (
                scores.join(
                    prev.select(
                        "node", F.col("authority").alias("__pa")
                    ),
                    "node",
                )
                .agg(
                    F.max(
                        F.abs(F.col("authority") - F.col("__pa"))
                    ).alias("d")
                )
                .collect()[0]["d"]
            )
            if delta is not None and delta < tol:
                break
    return scores


def _pagerank_step(
    nodes: DataFrame,
    ed: DataFrame,
    ranks: DataFrame,
    dangling_nodes: DataFrame | None,
    n_nodes: int,
    damping: float,
) -> DataFrame:
    """One un-checkpointed power-iteration step (exposed so tests can
    assert the iteration's PLAN — the public loop checkpoints every
    step, which hides the plan behind an RDD scan).

    Dangling mass is a 1-row broadcast crossJoin INSIDE the plan, not
    a driver action: each iteration costs exactly one job (the
    checkpoint), even on dangling-heavy graphs."""
    base = (1.0 - damping) / n_nodes
    contribs = (
        ed.join(ranks, ed["src"] == ranks["node"])
        .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("in_mass"))
    )
    updated = nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
    if dangling_nodes is not None:
        dmass = ranks.join(dangling_nodes.select("node"), "node").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dmass")
        )
        spread_col = F.lit(damping) * F.col("__dmass") / F.lit(float(n_nodes))
        updated = updated.crossJoin(F.broadcast(dmass))
    else:
        spread_col = F.lit(0.0)
    return updated.select(
        "node",
        (
            F.lit(base)
            + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
            + spread_col
        ).alias("rank"),
    )
