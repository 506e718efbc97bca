"""Iterative graph algorithms on DataFrames (PageRank; companions to the
connected-components dedup clustering in operators/dedup.py).

The reference has no graph surface; this exists because a training-data
pipeline ranks/clusters documents by link structure (citation graphs, URL
link graphs) at corpus scale. Everything is DataFrame joins + keyed aggs —
no driver-side adjacency, no collect.

Determinism: ranks are FIXED-POINT BIGINTs (1e-9 units) and every update is
integer arithmetic (`div`, `%`), so iteration k's state is bit-identical in
any engine — which is what lets an iterative algorithm have an exact DuckDB
oracle (unrolled one CTE per iteration).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**9  # rank unit = 1e-9
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as a ratio — integer math only


def pagerank_fixed_point(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes: int,
    iters: int,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point PageRank: nodes(node), edges(src, dst, d=out-degree of
    src) → (node, r) after ``iters`` synchronous iterations.

    r_{k+1}(v) = b(v) + 0.85 · Σ_{(u,v)∈E} r_k(u)/deg(u), in 1e-9 integer
    units with floor division — deterministic and engine-portable. Global
    PageRank: b = 0.15/N and r_0 = 1/N everywhere. ``seeds(node, b, r)``
    personalizes it: seed nodes take their own b and r_0, all others 0.
    Dangling mass (nodes with no out-edges) is dropped on both engines.

    Pregel-style: each node's state row (node, b, r, d, dsts) carries its
    own out-list, built once by one groupBy over ``edges``. A step unions
    the messages explode(dsts) → (dst, r div d) with the state rows
    themselves (they carry b, d, dsts and keep nodes without in-edges)
    and runs ONE groupBy(node). Shuffled bytes per step ≈ |E| messages plus
    one row per node — what an edges ⋈ ranks join moves, in one exchange
    instead of its 3-4. The largest row is one node's out-list.

    Every state is localCheckpointed lazily (under AQE its shuffle stage
    runs at that call, so this adds no job), so each step plans a
    constant-size tree. Trade-off, as for HITS and LPA: a lost executor
    fails the query instead of recomputing it from lineage.

    Contract: the returned (node, r) frame is persisted and materialized,
    and every step checkpoint is released; the caller owns the cache
    entry (``.unpersist()`` or ``clearCache()`` frees it)."""
    if seeds is None:
        state = nodes.select(
            "node",
            F.lit((15 * SCALE) // (100 * n_nodes)).alias("b"),
            F.lit(SCALE // n_nodes).alias("r"),
        )
    else:
        state = nodes.join(seeds, "node", "left").select(
            "node",
            F.coalesce("b", F.lit(0)).cast("long").alias("b"),
            F.coalesce("r", F.lit(0)).cast("long").alias("r"),
        )
    adj = edges.groupBy(F.col("src").alias("node")).agg(
        F.collect_list("dst").alias("dsts"), F.first("d").alias("d")
    )
    state = state.join(adj, "node", "left").localCheckpoint(eager=False)
    steps = [state]
    for _ in range(iters):
        msgs = state.select(
            F.explode("dsts").alias("node"), F.expr("r div d").alias("c")
        )
        state = (
            state.unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.max("b").alias("b"),
                F.expr(
                    f"max(b) + ({DAMP_NUM} * coalesce(sum(c), 0L)) div {DAMP_DEN}"
                ).alias("r"),
                F.max("d").alias("d"),
                # collect_list (not first) keeps this an object-hash
                # aggregate: an array-typed first() forces a sort aggregate
                F.flatten(F.collect_list("dsts")).alias("dsts"),
            )
            .filter(F.col("b").isNotNull())  # drops messages to non-nodes
            .localCheckpoint(eager=False)
        )
        steps.append(state)
    ranks = state.select("node", "r").persist()
    ranks.count()  # materialize before the step checkpoints are released
    for cp in steps:
        _release_checkpoint(cp)
    return ranks


def hits_fixed_point(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int,
    scale: int = 10**6,
) -> DataFrame:
    """Fixed-point HITS: nodes(node), edges(src, dst) → (node, a, h) after
    ``iters`` synchronous iterations, hub-initialized at ``scale``.

    Each iteration: auth(v) = Σ_{(u,v)} hub(u), max-normalized to ``scale``
    (a·scale // max(a), integer floor division); then hub(u) = Σ_{(u,v)}
    auth(v), normalized the same way. All integer arithmetic → bit-identical
    across engines, so an unrolled-CTE oracle value-hashes exactly (the
    PageRank discipline, doubled).

    Scale shape: per half-step one edges⋈scores equi-join + one
    map-side-combined sum over sparse state (only nodes with incoming
    contributions; densified once on the way out). The normalizer max is
    fetched to the driver as ONE scalar per half-step rather than
    crossJoined as a 1-row frame: a normalizer subquery embeds the
    half-step's subtree a second time, so the plan would double every
    half-step (~4^iters nodes) and Catalyst OOMs building it.

    Lineage discipline: each half-step's raw state is a lazy
    ``localCheckpoint``, so the next half-step plans from a LogicalRDD
    scan (a constant-size tree) and the max is an agg over those blocks.
    Each round releases the previous round's two checkpoints
    (_release_checkpoint); waiting for the ContextCleaner lets 2·iters
    node tables pile up in executor storage on big graphs.

    Contract: the returned frame is persisted (last iteration's state)
    and every checkpoint, the graph pins included, is released before
    returning; the caller should ``.unpersist()`` it once consumed."""
    if iters < 1:
        raise ValueError(
            f"hits_fixed_point needs iters >= 1 (got {iters}); with zero "
            "iterations there is no auth state to report"
        )
    # Pin the graph itself: nodes/edges appear in every half-step, and an
    # uncached edge list re-runs its whole upstream subtree 2·iters times.
    # A pre-partitioned edge copy measured slower: the node-sized score
    # side is broadcast, so the edge list is never shuffle-joined.
    nodes = nodes.localCheckpoint(eager=False)
    edges = edges.localCheckpoint(eager=False)
    # Half-step state is SPARSE (only nodes with incoming contributions):
    # an absent node contributes nothing to the next sums, exactly like a
    # zero row, and max() over non-negative sums ignores zeros. Densify
    # once, on the way out.
    hub = nodes.withColumn("h", F.lit(scale).cast("long"))
    auth = None
    prev_a = prev_h = None
    for _ in range(iters):
        araw = (
            edges.join(hub, edges["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("c"))
            .select(F.col("dst").alias("node"), F.col("c").cast("long").alias("a"))
            .localCheckpoint(eager=False)
        )
        amax = max(araw.agg(F.max("a")).collect()[0][0] or 0, 1)  # one scalar
        auth = araw.select(
            "node", F.expr(f"(a * {scale}) div {amax}").cast("long").alias("a")
        )

        hraw = (
            edges.join(auth, edges["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("c"))
            .select(F.col("src").alias("node"), F.col("c").cast("long").alias("h"))
            .localCheckpoint(eager=False)
        )
        hmax = max(hraw.agg(F.max("h")).collect()[0][0] or 0, 1)
        hub = hraw.select(
            "node", F.expr(f"(h * {scale}) div {hmax}").cast("long").alias("h")
        )
        # last round's pair is superseded now that this round's is
        # materialized; the final pair stays live for the output join
        if prev_a is not None:
            _release_checkpoint(prev_a)
            _release_checkpoint(prev_h)
        prev_a, prev_h = araw, hraw

    out = (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h"),
        )
        .persist()
    )
    out.count()
    # out is materialized in the cache: the graph pins and the last
    # round's pair are superseded, and clearCache() cannot reach them
    for cp in (nodes, edges, prev_a, prev_h):
        _release_checkpoint(cp)
    return out


def _release_checkpoint(df: DataFrame) -> None:
    """Free a superseded localCheckpoint's storage blocks immediately.

    Dataset.localCheckpoint persists an internal RDD that the returned
    frame wraps as a LogicalRDD; nothing user-facing unpersists it, so
    superseded rounds of an iterative algorithm accumulate executor
    storage until the JVM GCs the reference. Reaching through the
    analyzed plan to that RDD and unpersisting (non-blocking) returns the
    blocks eagerly. Best-effort: anything unexpected (not a LogicalRDD,
    already released) is ignored — correctness never depends on it — but
    the FIRST unexpected failure logs once at debug level, so a Spark
    upgrade that changes the analyzed plan shape (silently turning every
    release into a no-op and letting per-round storage accumulate in
    HITS/star_components/connected_components) is diagnosable instead of
    invisible (round-10 ADVICE #5). The pinning test covers both the
    eager and the lazy (eager=False, as used by hits_fixed_point)
    checkpoint shapes: tests/test_kernel_properties.py."""
    global _RELEASE_WARNED
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — storage hygiene only
        if not _RELEASE_WARNED:
            _RELEASE_WARNED = True
            logging.getLogger(__name__).debug(
                "_release_checkpoint: analyzed-plan RDD unreachable (%s); "
                "superseded checkpoint blocks will wait for JVM GC",
                exc,
            )


_RELEASE_WARNED = False


def star_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iters: int = 60
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewiring (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — O(log^2 n) rounds, vs O(diameter) for min-label
    propagation (operators/dedup.connected_components).

    Use THIS form when component diameters grow with data size (spatial /
    percolation-style graphs: DBSCAN candidate graphs, road-network-ish
    meshes). Label propagation moves the minimum ONE HOP per round — no
    amount of label-chain shortcutting beats that, because the information
    itself travels the fixed edge set (measured: 28 rounds on the sf1
    DBSCAN graph, still 22 with pointer-halving; 6 rounds for this form,
    identical labels). Dedup clusters are near-cliques (diameter 2-4), so
    connected_components stays the right tool there.

    Rounds: large-star hangs every strictly-larger neighbor of u onto
    min(Gamma(u) u {u}); small-star re-points u and its smaller neighbors
    at their collective min. Both are one groupBy + one equi-join over the
    edge set; edges stay (larger -> smaller) pointers, count never exceeds
    the input edge count, and the fixpoint is a star forest rooted at each
    component's minimum id.

    Returns (node, comp) for every node incident to an input edge —
    including roots, labeled by themselves — matching the
    connected_components contract (isolated nodes never enter either).
    Raises if the bound is hit — a partial star forest is silently WRONG
    clusters."""
    E = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # large-star: m = min over the symmetric neighborhood (incl. u)
        sym = E.unionAll(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        e1 = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(
                mins.filter(F.col("m") < F.col("u")).select(
                    "u", F.col("m").alias("v")
                )
            )
            .distinct()
            .filter(F.col("u") != F.col("v"))
            .localCheckpoint(eager=True)
        )
        # small-star on (larger -> smaller) pointers: children ∪ {u} hang
        # off their min
        mins2 = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            e1.join(mins2, "u")
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
            )
            .distinct()
            .filter(F.col("u") != F.col("v"))
            .localCheckpoint(eager=True)
        )
        # single symmetric-difference probe: one job instead of two
        # (either direction differing is enough to continue)
        changed = (
            e2.exceptAll(E).unionAll(E.exceptAll(e2)).limit(1).count()
        )
        # free the superseded round's checkpoint blocks now — they
        # otherwise sit in executor storage until the JVM happens to GC
        # the RDD references (accumulates across rounds on big graphs)
        _release_checkpoint(E)
        _release_checkpoint(e1)
        E = e2
        if changed == 0:
            non_roots = E.select(F.col("u").alias("node"), F.col("v").alias("comp"))
            roots = E.select(F.col("v").alias("node")).distinct().withColumn(
                "comp", F.col("node")
            )
            return non_roots.unionByName(roots)
    raise RuntimeError(
        f"star_components did not converge within max_iters={max_iters}; "
        "partial star forests are silently wrong clusters"
    )
