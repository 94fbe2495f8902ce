"""Graph traversal operators — bounded-hop BFS and triangle counting.

Completes the graph-analytics family (connected components in
operators/dedup.py, PageRank in operators/pagerank.py) with the other
two staples of large-graph processing. The reference has no graph
surface at all (its only iteration primitive is ``loop``, reference
laygo/transformers/transformer.py:346-392, which cannot join); both
operators here are uplift in the relational-iteration family.

Scale posture:

- ``bfs_hops`` is FRONTIER-based: edges are hash-partitioned on ``src``
  once and persisted, and each round shuffles only the current frontier
  (|frontier| rows) to that fixed layout — |E| never moves after round
  zero. The visited set grows monotonically and is localCheckpoint-ed
  per round, so round k never replans rounds 1..k-1.
- ``triangle_count`` uses DEGREE ORIENTATION: every undirected edge is
  directed from its lower-degree endpoint (ties by id), turning the
  edge list into a DAG whose max out-degree is O(sqrt(|E|)). Wedge
  enumeration — the quadratic step — is then bounded by
  sum(outdeg^2) <= |E|^1.5 instead of sum(deg^2), which is the
  difference between feasible and not on power-law graphs where a
  celebrity node would otherwise generate deg^2 ~ 10^12 wedges.
  This is the standard MapReduce triangle algorithm (Suri & Vassilvitskii,
  WWW'11); the closing-edge check is one equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin, release


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Minimum hop count from a source set to every reachable node,
    bounded by ``max_hops``.

    ``edges`` is directed (symmetrize first for an undirected graph);
    ``sources`` holds one ``node`` column. Returns ``(node, hops)`` with
    hops = min over all paths, 0 for the sources themselves.

    Frontier BFS: because hops increase by exactly 1 per round, the
    first round that reaches a node gives its minimum — no re-relaxation
    (that would be Bellman-Ford, only needed for weighted edges). The
    anti-join against the visited set keeps each node in exactly one
    frontier, so total work is O(|E| * rounds-touched), not
    O(|E| * max_hops).
    """
    from pyspark.sql import Observation

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    visited = pin(
        sources.select(F.col(node).alias("node")).distinct().withColumn("hops", F.lit(0))
    )
    frontier = visited
    try:
        for k in range(1, max_hops + 1):
            nxt = (
                frontier.select(F.col("node").alias("src"))
                .join(e, "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(k))
            )
            # ONE job per hop (r9; was frontier-checkpoint + take(1)
            # probe + visited-checkpoint = 3): the grown visited set
            # checkpoints with the new-frontier size riding as an
            # observed metric — the early-exit probe costs nothing —
            # and the next frontier is a metadata-cheap hops==k slice
            # of the materialized blocks. Superseded visited snapshots
            # release eagerly (same discipline as kcore/CC below —
            # at scale each snapshot is |V| rows of executor storage).
            obs = Observation(f"bfs_frontier_h{k}")
            prev, visited = visited, pin(
                visited.unionByName(nxt).observe(
                    obs, F.sum((F.col("hops") == k).cast("long")).alias("n")
                )
            )
            release(prev)
            if not obs.get["n"]:
                break
            frontier = visited.filter(F.col("hops") == k)
    except BaseException:
        release(visited)
        raise
    finally:
        e.unpersist()
    return visited


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts for an undirected graph.

    ``edges`` may contain duplicates, self-loops, or both orientations —
    it is canonicalized to distinct ``a < b`` pairs first. Returns
    ``(node, n_triangles)`` for every node on at least one edge
    (0 for triangle-free nodes), where each triangle {a,b,c} adds 1 to
    all three members.

    Pipeline: canonicalize -> degree -> orient low-degree->high-degree
    -> enumerate wedges (u->v, u->w with v before w in orientation
    order) -> close by joining wedge (v,w) against oriented edges ->
    explode each triangle to its three members and count.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    both = canon.unionByName(canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("deg"))
    # Orientation key (deg, id): strictly totally ordered, so every
    # canonical edge gets exactly one direction.
    with_deg = (
        canon.join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # The oriented table feeds THREE plan legs (both wedge sides + the
    # closing-edge probe); localCheckpoint materializes it once instead
    # of re-running canonicalize+degree+orient per leg.
    oriented = pin(with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ))
    # Wedges u->v, u->w with (v) before (w) in orientation order: dedups
    # each candidate pair to one wedge row per center.
    l, r = oriented.alias("l"), oriented.alias("r")
    wedges = l.join(r, F.col("l.u") == F.col("r.u")).filter(
        (F.col("l.dv") < F.col("r.dv"))
        | ((F.col("l.dv") == F.col("r.dv")) & (F.col("l.v") < F.col("r.v")))
    ).select(
        F.col("l.u").alias("u"), F.col("l.v").alias("v"), F.col("r.v").alias("w")
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    members = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    counts = members.groupBy("node").agg(F.count("*").alias("n_triangles"))
    all_nodes = both.select(F.col("a").alias("node")).distinct()
    return all_nodes.join(counts, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = None,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
) -> DataFrame:
    """Thin alias of ``_kcore_impl``. DELIBERATELY NOT wrapped in the
    iterative AQE parallelism floor (operators/_iterloop.py): k-core's
    fixed-rounds mode merges all peel rounds into the CALLER's single
    action, so covering it would require an eager checkpoint inside the
    guard — and the A/B (r10, min-of-6 at sf0.1) measured
    parallelismFirst NEUTRAL for the merged peel (2.72 → 2.83 s
    session-wide) while the forced materialization cost +0.35 s. The
    fixpoint mode (rounds=None) materializes per round under the
    session default, which the same A/B showed is fine for this
    shrinking-edge-set shape. pagerank/label_propagation keep the guard
    — their rank/label joins measurably serialize without it."""
    return _kcore_impl(edges, k, rounds, src, dst, checkpoint_every)


def _kcore_impl(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = None,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
) -> DataFrame:
    """k-core peeling: repeatedly delete nodes of degree < k (with their
    edges) until the graph stabilizes — the standard dense-subgraph /
    graph-cleanup primitive (a node in the k-core has ≥ k neighbors that
    are themselves in the k-core).

    ``edges`` may be directed input; it is canonicalized and symmetrized
    first. Returns ``(node, deg)`` for surviving nodes with their degree
    inside the surviving subgraph.

    ``rounds=None`` peels to the true fixpoint (one extra count() per
    round as the convergence check — the same driver-side fixpoint shape
    as connected_components). A fixed ``rounds`` bounds the iteration,
    which makes the operator exactly SQL-expressible by unrolling — the
    same trick that oracle-gates PageRank and BFS. Each round is one
    degree aggregation plus two semi-joins over the CURRENT edge set
    (monotonically shrinking), checkpointed so round r never replans
    rounds 1..r-1; prior pins are released as soon as the next round
    materializes.
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e = pin(canon.unionByName(canon.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    pinned = e
    r = 0
    n_edges = e.count() if rounds is None else None
    while True:
        r += 1
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        survivors = (
            e.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )
        obs = None
        if rounds is None:
            # fixpoint mode's per-round convergence count rides the
            # checkpoint job as an observed metric (r7) — the separate
            # e.count() was one extra job per peel round.
            from pyspark.sql import Observation

            obs = Observation(f"kcore_edges_r{r}")
            survivors = survivors.observe(obs, F.count(F.lit(1)).alias("n"))
        # Fixed-rounds mode may UNROLL several rounds into one job
        # (checkpoint_every=k, or 0 = never): each unchecked round's
        # three e-legs (deg + both semi-joins) become ReusedExchange
        # nodes in the merged plan, so the work stays linear while the
        # per-round job/scheduling floor disappears (r9: one merged job
        # for 3 rounds measured ~40% faster at sf0.1 than 3 checkpoint
        # jobs). Fixpoint mode always materializes — the Observation
        # needs an action per round.
        must_ckpt = rounds is None or (
            checkpoint_every and r % checkpoint_every == 0
        )
        if must_ckpt:
            e = pin(survivors)
            release(pinned)
            pinned = e
        else:
            e = survivors
        if rounds is not None:
            if r >= rounds:
                break
        else:
            n_next = obs.get["n"]
            if n_next == n_edges:
                break
            n_edges = n_next
    return e.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
    assume_symmetric: bool = False,
) -> DataFrame:
    """See ``_label_propagation_impl`` — this wrapper scopes the
    iterative AQE parallelism floor (operators/_iterloop.py). The
    result materializes EAGERLY inside the guard (same rationale as
    kcore's wrapper: the flag is execution-time, so the final rounds
    must run before the restore)."""
    from ._iterloop import loop_parallelism

    with loop_parallelism(edges.sparkSession):
        return _label_propagation_impl(
            edges, rounds, src, dst, checkpoint_every, assume_symmetric
        )


def _label_propagation_impl(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007): every node starts in its own community
    (label = node id); each round, a node adopts the label that is most
    FREQUENT among its neighbors, smallest label on ties. Returns
    ``(node, label)`` after ``rounds`` rounds.

    Determinism: the classic async/random-tie LPA is famously
    non-deterministic — this is the synchronous variant with a
    count-desc-then-label-asc argmax, so the trajectory is a pure
    function of the graph and ``rounds``, and a fixed round count makes
    it exactly SQL-expressible by unrolling (the same trick that
    oracle-gates PageRank/BFS/k-core).

    Scale shape per round: one hash join of the edge list against the
    |V|-row label table (both sides partitioned on the join key — at
    scale pre-partition the edge list on ``src`` once and every round
    reuses that layout), one (dst, label) count aggregation with
    map-side combine, and the per-node argmax as one
    partial-aggregatable max(struct(n, -label)) — no sort window
    anywhere. Round 1 under the identity init is computed as a single
    min(neighbor) aggregation (all vote counts are provably 1).
    Rounds checkpoint on the kcore/connected-components release
    discipline so round r never replans rounds 1..r-1; LPA on huge
    graphs typically stabilizes in a handful of rounds (the published
    experiments use ~5).
    """
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")

    half = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    # assume_symmetric skips the re-symmetrize + distinct shuffle when
    # the caller's edge list is already a symmetric distinct set (e.g.
    # graph_ops._sp_edges) — symmetrizing twice is a wasted full-edge
    # distinct at every call.
    sym = (
        half
        if assume_symmetric
        else half.unionByName(
            half.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).distinct()
    )
    e = pin(sym)
    # Round 1 under the identity init is pure algebra: every neighbor
    # carries a distinct label (its own id), so all vote counts are 1
    # and the count-desc/min-label argmax degenerates to min(neighbor)
    # — one aggregation, no join, no argmax. Exactly the synchronous
    # update, one round cheaper.
    labels = e.groupBy(F.col("d").alias("node")).agg(F.min("s").alias("label"))
    pinned = None
    try:
        for r in range(2, rounds + 1):
            if checkpoint_every and (r - 1) % checkpoint_every == 0:
                labels = pin(labels)
                release(pinned)
                pinned = labels
            votes = (
                e.join(labels.withColumnRenamed("node", "s"), "s")
                .groupBy(F.col("d").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # argmax (count desc, label asc) as ONE partial-aggregatable
            # max(struct): max = highest n, then smallest label via the
            # negated field — cheaper than a row_number window (no
            # per-partition sort, map-side combine after the vote agg).
            nxt = (
                votes.select("node", F.struct(F.col("n"), (-F.col("label")).alias("neg")).alias("t"))
                .groupBy("node")
                .agg(F.max("t").alias("t"))
                .select("node", (-F.col("t.neg")).alias("label"))
            )
            labels = nxt
        return pin(labels)
    finally:
        # The pinned result reads neither the edge list nor the last
        # round's snapshot.
        release(e, pinned)
