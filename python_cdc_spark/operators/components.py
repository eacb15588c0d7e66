"""Distributed connected components: pair lists → duplicate clusters.

Near-dup detection (operators/dedup.py) emits PAIRS; a curation pipeline
needs CLUSTERS — the transitive closure — to keep one canonical doc per
duplicate group. This is min-label propagation:

- every vertex starts labeled with its own id;
- each round, a vertex takes the min of its own label and its
  neighbors' labels (one shuffle join on the edge list + one min-agg);
- converged when no label changed — every vertex then holds the min id
  reachable in its component, a deterministic canonical cluster id.

Rounds needed = graph diameter. Near-dup graphs are clique-ish (LSH
pairs within a duplicate group), so diameter is small — typically 2-4
rounds. For adversarial long-chain graphs, the star-contraction variant
(large-star/small-star, Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) converges in O(log n) rounds at ~2× the
per-round cost; the propagation loop below keeps the per-round plan
minimal and the result identical.

Scale notes:
- per round: one shuffle-join of labels onto the symmetrized edge list
  keyed by vertex + one partial-aggregated min — both AQE-skew-safe (a
  high-degree hub is an ordinary skewed join key);
- `localCheckpoint(eager=True)` after every round materializes the new
  labels and CUTS LINEAGE — without it the plan doubles per iteration
  and analysis time explodes (the classic iterative-algorithm footgun);
- the convergence probe (`count` of changed labels) runs on the
  checkpointed result, so it re-reads cached partitions, not the chain.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: edge-count ceiling for the single-task union-find path. One task
#: holding ~1M (long, long) edges is a few tens of MB of state and a
#: sub-second pass; the iterative distributed loop below costs
#: diameter × (join + agg + convergence probe) Spark jobs, each with a
#: scheduler/exchange floor — orders of magnitude more wall-clock for
#: small graphs (r13 measurement: the 17-member affected subgraph of
#: the narrow dedup fold spent 37 Spark jobs / ~3-5 s in the loop).
_LOCAL_CC_MAX_EDGES = 1_000_000


def _components_single_task(e: DataFrame) -> DataFrame:
    """Exact min-label components of a SMALL edge list in one executor
    task: coalesce the (a, b) edges into one partition and run
    union-find there (guide §4.2 — hand a whole batch to native/local
    code instead of iterating distributed rounds). Output contract is
    identical to the iterative loop: one (v, component) row per vertex,
    component = min vertex id reachable. No driver involvement — the
    fold runs inside a mapInPandas task."""

    def uf(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
                a, b = int(a), int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union-by-min: the root is always the component's
                    # minimum id, so root == canonical component label
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            verts = list(parent)
            yield pd.DataFrame(
                {"v": verts, "component": [find(v) for v in verts]}
            )

    return e.coalesce(1).mapInPandas(uf, "v long, component long")


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """Components of the undirected graph given by ``edges[src, dst]``.

    Returns one row per vertex: ``v`` (long) and ``component`` — the
    minimum vertex id in its connected component (deterministic, so two
    runs and the DuckDB recursive-CTE oracle agree exactly). Vertices
    are whatever ids appear in the edge list; isolated vertices (no
    edges) are the caller's to union in if needed.

    Cost placement (results identical either way): edge lists at or
    under ``_LOCAL_CC_MAX_EDGES`` take the single-task union-find path
    (one job instead of diameter × join/agg/probe jobs); larger graphs
    run the distributed propagation loop.
    """
    # checkpoint the edge input BEFORE symmetrization: the union's two
    # branches would otherwise each carry a full copy of the upstream
    # edge pipeline (for verified near-dup pairs, the entire LSH +
    # verify plan — doubled work and doubled broadcasts; the r10 gates
    # wave caught the doubled copy amplifying a driver OOM at sf10).
    # The edge count that picks the plan is observed on the checkpoint's
    # own job.
    n_edges = Observation()
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .observe(n_edges, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if n_edges.get["n"] <= _LOCAL_CC_MAX_EDGES:
        # re-used across plan branches by every caller → checkpoint so
        # the union-find task runs once, not once per branch
        return _components_single_task(e).localCheckpoint(eager=False)
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)  # scanned once per round — compute once
    )
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
        "component", F.col("v")
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["v"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # lazy checkpoint: the convergence probe below is the
        # materializing action — one job per round, not two
        new = (
            labels.join(nbr_min, labels["v"] == nbr_min["a"], "left")
            .select(
                labels["v"],
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        old = labels.select("v", F.col("component").alias("old_component"))
        # labels only ever decrease, so strict < is the full change test
        changed = new.join(old, "v").filter(
            F.col("component") < F.col("old_component")
        ).count()
        labels = new
        if changed == 0:
            break
    else:
        # rounds needed = diameter; exhausting the budget means labels
        # are still moving and component ids would be silently WRONG
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); labels are partial — "
            "raise max_iter or use connected_components_star (O(log n))",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """Star-contraction connected components (large-star/small-star,
    Kiveris et al., SoCC'14): same output contract as
    :func:`connected_components`, converging in O(log n) rounds on ANY
    graph — the variant for adversarial long-chain inputs where
    propagation's diameter-bounded rounds would dominate.

    Each round rewrites the edge set (edges always point larger → its
    component-min candidate):

    - large-star: every vertex's strictly-larger neighbors re-attach to
      the minimum of its neighborhood (incl. itself);
    - small-star: every vertex and its ≤-neighbors re-attach to that
      neighborhood's minimum.

    Both are one groupBy-min plus one join per phase — the same
    shuffle shape as a propagation round, but the edge REWRITING halves
    long chains instead of walking them. Fixpoint: the edge set is a
    forest of stars rooted at component minima; the star edges ARE the
    (v, component) mapping.
    """
    # same upstream-duplication guard as connected_components: verts'
    # union and the e filter would each re-derive the edge pipeline
    e0 = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).localCheckpoint(eager=True)
    verts = (
        e0.select(F.col("a").alias("v"))
        .union(e0.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = e0.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("nbr_min"))
        m = F.least(F.col("a"), F.col("nbr_min")).alias("m")
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # orient hi -> lo, then attach each hi and all its lo-neighbors
        # to the minimum of that in-neighborhood
        hi_lo = ed.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        ).distinct()
        mins = hi_lo.groupBy("hi").agg(F.min("lo").alias("m"))
        lo_edges = hi_lo.join(mins, "hi").select(
            F.col("lo").alias("a"), F.col("m").alias("b")
        )
        hi_edges = mins.select(F.col("hi").alias("a"), F.col("m").alias("b"))
        return (
            lo_edges.union(hi_edges)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    for _ in range(max_iter):
        ne = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # true set-equality fixpoint (both sides are distinct sets):
        # small∘large is idempotent exactly on star forests
        if ne.count() == e.count() and ne.subtract(e).count() == 0:
            e = ne
            break
        e = ne
    else:
        warnings.warn(
            f"connected_components_star did not reach its star-forest "
            f"fixpoint in {max_iter} rounds; component ids are partial — "
            "raise max_iter (rounds needed are O(log n))",
            RuntimeWarning,
            stacklevel=2,
        )

    mapping = e.select(F.col("a").alias("v"), F.col("b").alias("component"))
    # vertices with no surviving edge (roots, singletons, self-loop-only)
    # are their own component
    alone = verts.subtract(mapping.select("v"))
    return mapping.union(alone.withColumn("component", F.col("v")))


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the undirected graph of ``edges`` — fixed
    ``iters`` power iterations (no convergence test: deterministic and
    oracle-replayable; size ``iters`` to the graph like ``max_iter`` in
    the components loop).

    Returns (v long, pr double). Engine-exact by construction: each
    neighbor contribution pr/deg routes through DECIMAL(18,12) before
    the per-vertex sum (order-independent), and the teleport/damping
    constants are single IEEE doubles computed once driver-side. Every
    step is distributed (edge join + keyed sum); the only driver values
    are the vertex COUNT and the iteration loop itself — per-iteration
    state is one (v, pr) row per vertex, checkpointed to keep lineage
    flat. At 100 TB this is ``iters`` shuffles keyed on vertex id.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = sym.select(F.col("s").alias("v")).distinct()
    n = nodes.count()
    if n == 0:
        # empty-graph schema must match the non-empty case for ANY
        # vertex id type (string doc ids, not just longs): derive v from
        # the edges schema instead of hardcoding it
        return nodes.withColumn("pr", F.lit(None).cast("double")).limit(0)
    init = 1.0 / n
    teleport = (1.0 - damping) / n
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    pr = nodes.withColumn("pr", F.lit(init))
    for _ in range(iters):
        contribs = (
            sym.join(pr.withColumnRenamed("v", "s"), "s")
            .join(deg, "s")
            .select(
                "d",
                (F.col("pr") / F.col("deg")).cast("decimal(18,12)").alias("c"),
            )
        )
        agg = contribs.groupBy("d").agg(F.sum("c").alias("csum"))
        pr = (
            nodes.join(agg, nodes["v"] == agg["d"], "left")
            .select(
                nodes["v"],
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * F.coalesce(F.col("csum").cast("double"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr
