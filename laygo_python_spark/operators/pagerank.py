"""PageRank — iterative DataFrame power iteration.

The reference's only iteration primitive is ``loop`` (reference
laygo/transformers/transformer.py:346-392), which re-runs a transformer
over the whole chunk stream; it has no join, so no graph algorithm is
expressible there. This is uplift in the same family as the
connected-components clustering (operators/dedup.py): a fixpoint-style
algorithm written as a bounded loop of relational operations.

Scale posture (same discipline as connected components):

- edges are hash-partitioned on ``src`` ONCE and persisted — every
  iteration's contribution join reuses that partitioning, so the
  per-round shuffle moves only the rank vector (|V| rows), never the
  edge list (|E| rows);
- ranks are ``localCheckpoint``-ed each round: without it, round k
  replans rounds 1..k-1 (quadratic work) and the lineage eventually
  blows the planner. Measured on connected components: 30 s → 3.4 s.
- a fixed iteration count (power iteration converges geometrically at
  rate = damping) rather than a convergence test — at 100 TB a
  convergence check is another full pass per round; published practice
  is 10-20 fixed rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    checkpoint_every: int = 1,
    sources: DataFrame | None = None,
    symmetric: bool = False,
    sparse: bool = False,
) -> DataFrame:
    """See ``_pagerank_impl`` — this wrapper only scopes the iterative
    AQE parallelism floor (operators/_iterloop.py) around the loop's
    jobs; the final round always materializes inside, so the guard
    covers every action."""
    from ._iterloop import loop_parallelism

    with loop_parallelism(edges.sparkSession):
        return _pagerank_impl(
            edges, iterations, damping, src, dst, weight,
            checkpoint_every, sources, symmetric, sparse,
        )


def _pagerank_impl(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    checkpoint_every: int = 1,
    sources: DataFrame | None = None,
    symmetric: bool = False,
    sparse: bool = False,
) -> DataFrame:
    """Rank nodes of a directed graph given an edge list.

    Standard uniform-init power iteration:
    ``r₀ = 1/N; rₖ₊₁(v) = (1-d)/N + d·Σ_{u→v} rₖ(u)·w(u,v)/W(u)``
    where w is the edge weight (1 when ``weight`` is None) and W(u) the
    source's total out-weight — each node still distributes exactly its
    rank, so mass conservation holds weighted or not. Nodes with no
    out-edges (dangling) keep receiving but stop contributing — callers
    wanting the redistribute-dangling-mass variant should symmetrize the
    edge list first (an undirected graph has none). Returns
    ``(node, pr)`` unrounded.

    ``checkpoint_every``: materialize the rank vector every k rounds
    (0 = never). The checkpoint matters when actions interleave with
    the loop or the round count is large (lineage/planner growth);
    with few rounds the whole loop collapses into the single final-
    round materialization (the last round ALWAYS checkpoints eagerly,
    because the function unpins the edge layout before returning).
    Long loops (≥ ~10 rounds) should keep the default.

    ``sources``: PERSONALIZED PageRank — a one-column ``node`` frame;
    both the initial mass and the (1−d) teleport go only to these
    nodes (uniformly), so ranks measure proximity TO the source set
    (the recommendation / similar-items staple) instead of global
    importance. The source flag joins into the node table once
    (broadcast — source sets are small by definition) and the loop is
    otherwise unchanged.

    ``symmetric=True``: the caller asserts every node appears as a
    source (true for any symmetrized edge list — the graph queries'
    shape). The node set is then deg's key column — zero extra
    shuffles — instead of a union-distinct over both endpoint columns
    (measured 1.5 s → free at sf0.1).
    """
    wcol = F.col(weight) if weight else F.lit(1.0)
    # ONE setup pass builds the whole edge layout (r8, replacing the
    # r5-r7 raw-persist + deg-groupBy + join + repartition chain): the
    # per-source out-weight rides a partition-wide window over the
    # src-hash exchange, so a single |E| shuffle yields (src, dst, w,
    # deg) already hash-partitioned on src — the layout every round's
    # contribution join wants. The old shape paid that |E| exchange
    # TWICE (deg groupBy, then the cadence repartition) plus a separate
    # deg materialization job; measured min-of-5 at sf0.1 under bench
    # quiesce: 4.51 s → 4.10 s (global 5-round) and 3.92 s → 3.15 s
    # (sparse 3-round PPR). persist (NOT localCheckpoint): blocks
    # release deterministically in the finally below (r6: checkpoint
    # blocks wait for driver GC and accumulated across calls).
    from pyspark.sql import Window

    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), wcol.alias("w"))
    # wd = w/deg precomputed INTO the persisted layout (r10): every
    # round's contribution is then pr·wd — the when-guard and division
    # run once per edge instead of once per edge per round. deg == 0
    # (mixed-sign weights summing to zero) would be an ANSI
    # DIVIDE_BY_ZERO job kill; such a source distributes no mass (null
    # wd, same treatment as null weights).
    e = (
        raw.withColumn("deg", F.sum("w").over(Window.partitionBy("src")))
        .withColumn("wd", F.when(F.col("deg") != 0, F.col("w") / F.col("deg")))
        .persist()
    )
    # The node FRAME is only consumed by the dense modes (per-node
    # base/pr0 literals, or the personalized flag join). The symmetric
    # global path needs only |V| (its rounds fold the teleport into the
    # aggregation constant) and sparse mode only an in-graph membership
    # guard — building, persisting and counting the full distinct node
    # set on those paths materialized an |E| -> |V| exchange whose
    # output was never read again (r13; was one whole extra exec of the
    # pagerank_supplier_part wall).
    dense_nodes_needed = (not symmetric) or (sources is not None and not sparse)
    nodes_raw = None
    if dense_nodes_needed:
        # Derives from the edge cache (map-side dedup + a |V|-row
        # exchange — tiny next to |E|); pinned because personalized
        # dense mode re-reads it every round.
        if symmetric:
            nodes_raw = e.select(F.col("src").alias("node")).distinct().persist()
        else:
            nodes_raw = (
                e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .distinct()
                .persist()
            )
    pins = [p for p in (e, nodes_raw) if p is not None]
    n = None
    if sources is None:
        # |V| seeds the uniform teleport/init literals. Personalized
        # mode never divides by it (mass is 1/n_s over the source set),
        # so skipping the count there saves one whole driver job per
        # call (r9: the scheduling floor, not data volume, dominates
        # iterative ops at small SF; an A/B of folding this count into
        # the round jobs as a broadcast 1-row aggregate measured SLOWER
        # — the per-round broadcast-cross stage costs more than the one
        # count job saves, and the count also pre-materializes the edge
        # layout off the loop's critical path).
        if nodes_raw is not None:
            n = nodes_raw.count()
        else:
            # Symmetric global: count-distinct ships per-partition
            # partials (guide §2.3 — aggregate before you shuffle)
            # instead of exchanging the node set itself; the count
            # still pre-materializes the edge cache off the loop's
            # critical path, exactly as the r9 note above requires.
            n = e.select(F.count_distinct("src").alias("n")).first()["n"] or 0
        if n == 0:
            # Empty edge list (e.g. an upstream filter matched nothing):
            # empty ranks, not a driver-side ZeroDivisionError.
            for p_ in pins:
                p_.unpersist()
            return (
                e.select(F.col("src").alias("node"))
                .where(F.lit(False))
                .withColumn("pr", F.lit(0.0))
            )
    if nodes_raw is None and sources is None:
        # Symmetric global: the init-vector select below references the
        # node frame but the fold_base rounds never evaluate it (round
        # 1 is the algebraic fold) — a LAZY, unpersisted derivation
        # keeps iterations=0 correct without materializing anything.
        nodes_raw = e.select(F.col("src").alias("node")).distinct()
    nodes = nodes_raw
    if sources is None:
        if sparse:
            raise ValueError("pagerank: sparse=True requires a source set (personalized mode)")
        nodes = nodes.withColumn("base", F.lit((1.0 - damping) / n)).withColumn(
            "pr0", F.lit(1.0 / n)
        )
    else:
        src_set = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
        n_s = src_set.count()
        if n_s == 0:
            raise ValueError("pagerank: personalized mode needs a non-empty source set")
        if sparse:
            # Out-of-graph sources: dense mode's broadcast flag join
            # silently drops them (their 1/n_s teleport share just
            # vanishes). Semi-join the source set against the node set so
            # sparse mode agrees instead of emitting teleport-only rows
            # for nodes the graph has never seen (r7 advice) — n_s stays
            # the FULL source-set count in both modes, so per-source mass
            # is identical too. Dense mode needs no extra join: its flag
            # join is the filter. The broadcast semi filters the edge
            # endpoints MAP-SIDE before the distinct, so the dedup
            # exchange carries |sources ∩ V| rows, not |V| (r13; the
            # previous shape semi-joined against the fully-materialized
            # persisted node set — an |E| -> |V| exchange built only to
            # be filtered down to a handful of rows).
            node_pool = e.select(F.col("src").alias("node"))
            if not symmetric:
                node_pool = node_pool.unionByName(e.select(F.col("dst").alias("node")))
            src_set = (
                node_pool.join(F.broadcast(src_set), "node", "semi").distinct()
            )
            # SPARSE personalized mode — the 100 TB shape for PPR: rank
            # mass lives only inside the iteration-hop ball around the
            # sources, so the rank vector carries REACHED nodes instead
            # of |V| rows of mostly zeros (on a billion-node graph with
            # a 3-round walk that is the difference between a frontier
            # and the full vertex set every round). The teleport enters
            # as |S| constant rows unioned into the contribution
            # aggregation — dense pr(v) = base(v) + d·Σc(v) equals the
            # summed union exactly, and a node absent from both has
            # pr = 0, which is exactly the rows this mode omits. The
            # caller gets ONLY pr > 0 nodes.
            base_rows = src_set.select(
                "node", F.lit((1.0 - damping) / n_s).alias("pr")
            )
            if checkpoint_every:
                base_rows = pin(base_rows)
            # checkpoint_every=0 (the unrolled-loop mode): skip the
            # base_rows materialization job too — its subtree is one
            # broadcast semi-join over the persisted node set, deduped
            # to a ReusedExchange inside the single merged round job
            # (r9: every driver job saved is ~0.4-0.8 s of scheduling
            # floor at small SF; at scale the join is map-side anyway).
            ranks = src_set.select("node", F.lit(1.0 / n_s).alias("pr"))
            try:
                for it in range(iterations):
                    contrib = e.join(ranks.withColumnRenamed("node", "src"), "src").select(
                        F.col("dst").alias("node"),
                        # wd is null for deg == 0 sources (see layout) —
                        # they distribute no mass.
                        (F.lit(damping) * F.col("pr") * F.col("wd")).alias("pr"),
                    )
                    # sum() skips NULLs, so a node holding base mass or any
                    # real contribution is safe — but a node reached ONLY
                    # through null-weight edges (deg null -> pr null) would
                    # aggregate to a NULL-pr row. Dense mode coalesces the
                    # same case to 0.0 and the sparse contract emits only
                    # pr > 0 nodes, so drop those rows (r8 review).
                    ranks = (
                        base_rows.unionByName(contrib)
                        .groupBy("node")
                        .agg(F.sum("pr").alias("pr"))
                        .filter(F.col("pr").isNotNull())
                    )
                    if it + 1 == iterations or (
                        checkpoint_every and (it + 1) % checkpoint_every == 0
                    ):
                        ranks = pin(ranks)
            finally:
                for p_ in pins:
                    p_.unpersist()
            return ranks
        flagged = F.broadcast(src_set.withColumn("__is_src", F.lit(True)))
        nodes = (
            nodes.join(flagged, "node", "left")
            .withColumn(
                "base",
                F.when(F.col("__is_src"), F.lit((1.0 - damping) / n_s)).otherwise(F.lit(0.0)),
            )
            .withColumn(
                "pr0", F.when(F.col("__is_src"), F.lit(1.0 / n_s)).otherwise(F.lit(0.0))
            )
            .drop("__is_src")
        )
    # `nodes` is (base, pr0) literal columns over the pinned node set —
    # lazy on purpose; each round's job derives them from the
    # checkpointed blocks for free (personalized mode adds a broadcast
    # join, map-side and equally cheap in-job).
    ranks = nodes.select("node", F.col("pr0").alias("pr"))
    # Symmetric + uniform teleport: every node has in-edges (in-degree
    # = out-degree > 0), so the contribution aggregation already covers
    # the whole node set and `base` is one constant — the per-round
    # nodes join exists only to re-add zero-contribution nodes and
    # per-node teleports, both vacuous here. Personalized mode keeps
    # the join (base varies by node).
    fold_base = symmetric and sources is None
    try:
        for it in range(iterations):
            if it == 0 and sources is None:
                # Round-1 algebraic fold (r10; same family as LPA's
                # round-1 shortcut): uniform init makes pr0 the CONSTANT
                # 1/n, so the rank join is vacuous — round 1's
                # contribution is (1/n)·Σ wd straight off the edge
                # layout, one aggregation, no join. Saves a full
                # join+shuffle round of the loop; identical arithmetic
                # (oracle replays all 5 rounds and still hash-matches).
                contrib = e.select(
                    F.col("dst").alias("node"), (F.lit(1.0 / n) * F.col("wd")).alias("c")
                )
            else:
                contrib = e.join(ranks.withColumnRenamed("node", "src"), "src").select(
                    F.col("dst").alias("node"),
                    # wd is null for deg == 0 sources (zero-sum weights;
                    # see layout) — no contribution; the coalesce below
                    # lands on the teleport base.
                    (F.col("pr") * F.col("wd")).alias("c"),
                )
            if fold_base:
                # coalesce matches the dense path: a node whose incoming
                # contributions are ALL null (null/zero weights make deg
                # null or 0, so c is null) must land on the teleport base,
                # not a null pr (r7 advice).
                ranks = contrib.groupBy("node").agg(
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.coalesce(F.sum("c"), F.lit(0.0))
                    ).alias("pr")
                )
            else:
                ranks = (
                    nodes.join(contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left")
                    .select(
                        "node",
                        (F.col("base") + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("pr"),
                    )
                )
            # The FINAL round always checkpoints eagerly: the finally
            # block unpins the edge layout, so the returned frame must
            # already be materialized (otherwise the caller's action
            # would recompute every round against an unpersisted e).
            if it + 1 == iterations or (
                checkpoint_every and (it + 1) % checkpoint_every == 0
            ):
                ranks = pin(ranks)
    finally:
        for p_ in pins:
            p_.unpersist()
    return ranks
