"""Connected components over a pair/edge table — the clustering step of a
dedup pipeline: near-dup PAIRS (from LSH/simhash/Jaccard verification)
become dedup CLASSES, each labeled by its minimum member id, so "keep one
representative per class" is a groupBy away.

Algorithm: iterative min-label propagation. Every node starts labeled with
itself; each round a node takes the min of its own and its neighbors'
labels; converges in O(diameter) rounds (near-dup graphs are overwhelmingly
tiny cliques — diameter 1-2, so 3-4 rounds in practice).

Scale notes (100 TB):
- Each round is one shuffle join (edges ⋈ labels on dst) + a hash agg on
  src — both on the same key, so AQE reuses the partitioning.
- `localCheckpoint` between rounds cuts lineage; without it the plan
  doubles each iteration and the driver OOMs on plan size long before the
  data is a problem.
- Convergence is detected by the monotone sum of labels (strictly
  decreasing until fixpoint) — one cheap scalar agg per round instead of a
  full old-vs-new anti join.
- For pathological chain graphs (diameter ≫ rounds), min-label propagation
  needs O(diameter) rounds; `connected_components_star` below implements
  the two-phase large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SOCC'14), which
  converges in O(log n) rounds regardless of diameter. `algorithm="auto"`
  runs cheap label propagation first and escalates to star form instead
  of failing when the diameter exceeds the round budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 20,
                         algorithm: str = "auto") -> DataFrame:
    """(node, component) for every node in `edges`; component = min node id
    reachable. Deterministic for any input order.

    algorithm:
      "label" — min-label propagation, O(diameter) rounds. Raises on
                non-convergence (the historical behavior).
      "star"  — large-star/small-star, O(log n) rounds, diameter-proof.
      "auto"  — label propagation first (cheapest for the dedup-clique
                graphs this operator exists for: diameter 1-2), escalating
                to the star algorithm after 6 rounds
                without convergence. A clique graph certifies its seed in
                1 round; a graph still moving after 6 is chain-shaped and
                every further label round is a shuffle the star algorithm
                replaces with O(log n) total — burning the full `max_iter`
                budget first (the pre-r12 behavior) paid ~14 wasted
                shuffle rounds on long-diameter semantic graphs. Both
                arms return identical output, so the switch point is
                purely an execution choice.
    """
    if algorithm not in ("label", "star", "auto"):
        raise ValueError(
            f"algorithm must be 'label', 'star', or 'auto', got {algorithm!r}")
    # Materialize the edge table ONCE before anything touches it: both
    # algorithms symmetrize via `edges ∪ swap(edges)` — two references to
    # the upstream DAG, which for real pipelines is an expensive near-dup
    # verification (LSH banding + Jaccard join).  Without this cut the
    # whole upstream runs twice before the first round starts.
    edges = edges.localCheckpoint(eager=True)
    if algorithm == "star":
        return connected_components_star(edges)
    try:
        budget = max_iter if algorithm == "label" \
            else min(max_iter, 6)
        return _connected_components_label(edges, budget)
    except _NonConvergence as nc:
        if algorithm == "label":
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds (component diameter exceeds max_iter); raise "
                f"max_iter or use algorithm='star'") from None
        if nc.labels is None:
            return connected_components_star(edges)
        # Label-seeded contraction (r12): the 6 label rounds
        # already computed, for every node, the min id within its k-hop
        # neighborhood.  The invariant that makes contraction sound is
        # NOT that label classes are connected (propagation shifts labels
        # along chains, so class L generally neither contains node L nor
        # is connected) — it is that label(n) is always the id of a node
        # REACHABLE from n (same component), so quotienting nodes by
        # label and mapping every edge through it preserves component
        # structure exactly: a contracted graph with far fewer nodes and
        # ~(k+2)× smaller diameter, and the star algorithm starts from
        # the partial work instead of discarding it.  The component label
        # is unchanged — the component min m satisfies label(m)=m (it can
        # never adopt a smaller id), so it survives contraction and star
        # still returns it as the min.
        lab = nc.labels  # (node, label), checkpointed
        la = lab.select(F.col("node").alias("__n"), F.col("label").alias("__la"))
        lb = lab.select(F.col("node").alias("__m"), F.col("label").alias("__lb"))
        contracted = (
            edges.select(F.col("id_a").alias("__n"),
                         F.col("id_b").alias("__m"))
            .join(la, "__n").join(lb, "__m")
            .filter(F.col("__la") != F.col("__lb"))
            .select(F.col("__la").alias("id_a"), F.col("__lb").alias("id_b"))
            .distinct()
        )
        # Materialize once: star eagerly evaluates its input twice (both
        # `nodes` and `e` localCheckpoint eagerly), which would re-run the
        # two label joins + distinct above — the module's own
        # materialize-once discipline applies to the contraction too.
        contracted = contracted.localCheckpoint(eager=True)
        comp = connected_components_star(contracted)
        # Expand: component(node) = star_component(label(node)); label
        # classes whose whole component collapsed within the label rounds
        # have no contracted edges and keep their label as the component.
        return (
            lab.join(comp, lab.label == comp.node, "left")
            .select(
                lab.node.alias("node"),
                F.coalesce(comp.component, lab.label).alias("component"),
            )
        )


class _NonConvergence(Exception):
    """Internal: label propagation exhausted its round budget; carries the
    partially-propagated (node, label) frame so the caller can contract the
    graph through it instead of restarting from raw edges."""

    def __init__(self, labels: DataFrame | None = None):
        super().__init__()
        self.labels = labels


def _connected_components_label(edges: DataFrame, max_iter: int) -> DataFrame:
    # checkpoint the symmetrized edge table ONCE — every round joins it
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    # seed label = min(self, neighborhood) — one groupBy on the edge table
    # we already shuffle anyway.  For the clique-shaped graphs near-dup
    # verification emits (diameter 1-2) this IS the fixpoint, so the loop
    # below only has to certify it (one round) instead of finding it
    # (two+): fewer rounds = fewer shuffle jobs, the unit of cost here.
    labels = (
        sym.groupBy("src").agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nbr_min").alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = prev_sum is None  # no nodes → nothing to propagate
    for _ in range(max_iter):
        if converged:
            break
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
        prev_sum = cur_sum
    if not converged:
        # silent truncation would return WRONG components — fail loudly
        # (the public wrapper turns this into star-algorithm escalation,
        # seeded with the partial labels so the rounds spent here are not
        # wasted)
        raise _NonConvergence(labels)
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Two-phase large-star/small-star connected components (Kiveris et
    al., SOCC'14 §3). Converges in O(log n) alternations for ANY graph
    shape — a 1,000-node path closes in ~10 rounds where min-label
    propagation needs 999.

    Each round is two bounded shuffles on the edge table (a groupBy-min
    per center plus a re-join), and the edge table only ever shrinks
    toward one (child → root) edge per non-root node, so the per-round
    cost DECREASES as components collapse — the right shape at 100 TB.

    Convergence is detected structurally, not by diffing edge sets: the
    fixpoint of the alternation is exactly a forest of stars (every child
    points to a single root, no root is a child), which two cheap scalar
    aggregates certify per round — no hash digests, no anti-joins.
    """
    max_iter = 64
    nodes = (
        edges.select(F.col("id_a").alias("node"))
        .unionByName(edges.select(F.col("id_b").alias("node")))
        .distinct().localCheckpoint(eager=True)
    )
    # canonical (hi → lo) edges, hi > lo; self-loops carry no connectivity
    e = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"),
                F.least("a", "b").alias("lo"))
        .distinct().localCheckpoint(eager=True)
    )
    converged = e.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        # LARGE-STAR: for every center u, attach each strictly-larger
        # neighbor v to m = min(neighborhood(u) ∪ {u}).  m <= u < v keeps
        # the output canonical.
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")) \
            .unionByName(
                e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        m_of = (
            sym.groupBy("u").agg(F.min("v").alias("minv"))
            .select("u", F.least("minv", F.col("u")).alias("m"))
        )
        ls = (
            sym.join(m_of, "u").filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # SMALL-STAR: for every hi, link its smaller neighbors and itself
        # to m = min of those neighbors; (x, m) pairs stay canonical since
        # x, m < hi and m is the min.
        m2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        e = (
            ls.join(m2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(m2.select("hi", F.col("m").alias("lo")))
            .distinct().localCheckpoint(eager=True)
        )
        # Fixpoint iff the edge set is a star forest: one root per child…
        multi = e.groupBy("hi").agg(
            F.count_distinct("lo").alias("k")).filter("k > 1")
        # …and no root is itself a child.
        chained = e.select(F.col("lo").alias("hi")).join(
            e.select("hi"), "hi", "left_semi")
        # ONE take(1) action for both certificates instead of two —
        # isEmpty is a scheduler round trip and this loop runs O(log n)
        # times; the union short-circuits on the first violating row.
        converged = multi.select(F.lit(1).alias("one")).unionByName(
            chained.select(F.lit(1).alias("one"))).isEmpty()
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds — not expected for any graph of < 2^{max_iter} nodes")
    comp = e.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
    return (
        nodes.join(comp, "node", "left")
        .select("node",
                F.coalesce("component", F.col("node")).alias("component"))
    )
