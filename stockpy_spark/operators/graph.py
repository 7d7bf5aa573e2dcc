"""Connected components — dedup clustering over near-dup pair graphs.

The missing last step of every near-dup pipeline: pair emitters
(word/ngram Jaccard, MinHash LSH, SimHash, embedding LSH — dedup.py)
produce EDGES, but what a training pipeline needs is one representative
per transitively-connected CLUSTER: if A~B and B~C, then A, B, C are one
group even when A~C was never emitted. That transitive closure is
connected components.

Implementation is iterative min-label propagation on the DataFrame API:
every vertex starts labeled with itself; each round every vertex takes
the min of its own label and its neighbors' labels; converged when no
label changes. The loop runs O(graph diameter) rounds, restricted to
edge ENDPOINTS (the duplicate fraction of a corpus, not the corpus) and
driven by a CHANGED-vertex frontier that collapses geometrically and is
broadcast once small — so round 1 pays one edge-sized shuffle and later
rounds only endpoint-sized ones (see connected_components' docstring).
`localCheckpoint` truncates lineage per round so plans don't grow; the
convergence probe is an `isEmpty()` on the frontier, not a count. For
adversarial long-chain graphs (diameter ~n) the literature's fix is
alternating large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond") — same join/groupBy
primitives, O(log^2 n) rounds; not needed for dedup-shaped graphs.

The driver holds only the loop counter and the converged flag — labels
never leave the cluster.

Reference parity: none (the reference has no graph ops); extension
surface per the LLM-pipeline brief. Oracle: DuckDB WITH RECURSIVE
reachability (registry/dedup.py) — exact transitive closure, so a hash
match proves the fixpoint is the true component assignment, not an
early-stopped approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stockpy_spark.operators.pinning import pin, pin_lazy


#: Frontier size below which rounds 2+ switch to broadcast joins.
#: Post-eager-checkpoint counts are cheap (the frame is materialized),
#: so the decision costs one in-memory count per round. ~1M (v, label)
#: longs broadcast at ~16 MB — comfortably under executor budgets.
FRONTIER_BROADCAST_MAX = 1_000_000

#: Edge-frame size above which the frontier-broadcast machinery is worth
#: its per-round overhead (a broadcast build is an extra job and ~0.2 s
#: of scheduler latency per round; measured at sf0.1 it made the whole
#: pipeline SLOWER while at the synthetic 100x it cut 30%). Below this,
#: rounds run as plain sort-merge joins — shuffling a small edge frame
#: per round costs less than building a broadcast per round.
EDGE_BROADCAST_MIN = 2_000_000


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str,
    src: str,
    dst: str,
    max_iter: int = 50,
    edges_within_vertices: bool = False,
    jumps_per_round: int = 1,
) -> DataFrame:
    """Per-vertex component labels for an undirected graph.

    Returns (``vertex_col``, component) where component = min vertex id
    reachable from the vertex (vertices absent from every edge keep
    themselves — singleton components). Edge endpoints absent from
    ``vertices`` still relay labels during propagation — components
    bridged only through such a vertex merge correctly — but they are
    excluded from the output. Edge direction is ignored.

    Two structural facts keep the loop cheap at corpus scale:

    1. **Endpoint-restricted propagation.** A vertex with no edges is a
       singleton and can never change labels, so the loop runs over
       edge ENDPOINTS only — in a dedup graph that is the duplicate
       fraction of the corpus, not the corpus. Singletons are attached
       with one final join, outside the loop.
    2. **Frontier-based (delta) rounds.** Labels only ever decrease and
       ``least`` is idempotent, so a vertex whose label did not improve
       has nothing new to tell its neighbors: each round joins the
       edges against only the CHANGED vertices. Round 1's frontier is
       every endpoint (one full edge-label shuffle); the frontier then
       collapses geometrically (measured at sf0.1: 4.6k -> 1.4k -> 776
       -> ... -> 0 over 10 rounds), and later rounds broadcast the
       frontier so the big edge frame is scanned but never re-shuffled.
       (The first implementation re-shuffled the full edge x label join
       every round, paying the whole graph's shuffle O(diameter) times
       — BASELINE.md §4 records the before/after at the synthetic
       100x.)

    ``edges_within_vertices=True`` asserts every edge endpoint appears
    in ``vertices`` (true when pairs were emitted from the same frame,
    as all dedup.py emitters do), skipping the final re-normalization
    join (propagated labels are then already mins over caller
    vertices).

    Raises RuntimeError if ``max_iter`` rounds don't converge (a dedup
    graph converging that slowly means the edge set is pathological —
    see the module docstring for the star-contraction alternative).
    """
    # materialize the (possibly expensive — an LSH or Jaccard pair
    # pipeline) edge derivation ONCE: without this the whole upstream
    # pair computation re-executes in every propagation round.
    # Symmetrization is an EXPLODE of both directions, not a
    # self-union: a union's two branches each embed the full pair
    # subtree, so the (expensive) emitter executed twice inside the
    # pin_lazy materialization job — r16 measured two back-to-back
    # single-task minhash stages at the head of pipeline_dedup_cc's
    # first job, halved by this change (guide §2.4, duplicate
    # subtrees).
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("a"), F.col(dst).alias("b")
                    ),
                    F.struct(
                        F.col(dst).alias("a"), F.col(src).alias("b")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .transform(pin_lazy)
    )
    verts = vertices.select(F.col(vertex_col).alias("v"))
    # Propagation universe: edge endpoints only (this also makes relay
    # endpoints missing from `vertices` carry labels — components
    # bridged only through such a vertex merge correctly).
    endpoints = und.select(F.col("a").alias("v")).distinct()
    # forces the (lazy-checkpointed) edge materialization and tells us
    # whether per-round frontier broadcasts are worth their overhead
    big_graph = und.count() >= EDGE_BROADCAST_MIN
    labels = endpoints.select("v", F.col("v").alias("label")).transform(pin)
    frontier = labels  # round 1: every endpoint announces its own label
    frontier_size = None  # unknown until the first round's count

    for rnd in range(max_iter):
        sender = frontier.select(F.col("v").alias("fv"), "label")
        if big_graph and rnd > 0 and frontier_size <= FRONTIER_BROADCAST_MAX:
            # keeps the (big) edge frame scan shuffle-free; the label
            # update below shuffles only endpoint-sized frames
            sender = F.broadcast(sender)
        neighbor_min = (
            und.join(sender, und["a"] == F.col("fv"))
            .groupBy(F.col("b").alias("v2"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["v"] == F.col("v2"), "left"
        ).select(
            "v",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias(
                "label"
            ),
            F.col("label").alias("__old"),
        )
        # pointer-jump (label <- label of label): composes the round's
        # one-hop step into multiplied reach. The jumps read the
        # PREVIOUS round's materialized labels (not `stepped`, whose
        # un-checkpointed plan would be evaluated twice by a self-join).
        # r16 (guide §2.4/§1.2): ONE jump per round gives reach
        # r' = 2r + 1 (doubling); each ADDITIONAL jump through the same
        # pinned state adds +r more (r' = (j+1)r + 1), because the
        # previous state's pointers already have reach r — extra jumps
        # are endpoint-scale joins inside the same per-round job, with
        # no extra pin/probe/edge scan. MEASURED REFUSAL of a higher
        # default: on a 64-chain jumps_per_round=3 cuts 7 rounds to 5
        # exactly as the formula predicts, but on the star-edge dedup
        # graph (pipeline_dedup_cc, sf0.1) rounds stay at 8 for
        # j ∈ {1, 3, 6} — the labels a star emitter propagates are
        # already bucket-root ids, so label chains have length ~1 and
        # there is nothing to compress; convergence there is bound by
        # the star-contracted graph's edge diameter, which only hops
        # traverse. The default stays 1 (the classic doubling); raise
        # it for chain-shaped graphs.
        new_labels = stepped
        for j in range(jumps_per_round):
            parents = labels.select(
                F.col("v").alias(f"__jv{j}"), F.col("label").alias(f"__jl{j}")
            )
            new_labels = (
                new_labels.join(
                    parents,
                    new_labels["label"] == F.col(f"__jv{j}"),
                    "left",
                )
                .select(
                    "v",
                    F.least(
                        F.col("label"), F.coalesce(f"__jl{j}", "label")
                    ).alias("label"),
                    "__old",
                )
            )
        # the convergence probe RIDES the pin job (r16, guide §1.2 —
        # fewer driver barriers): an Observation on the changed-row
        # count fires during the eager checkpoint materialization
        # (verified for both localCheckpoint and reliable checkpoint),
        # so each round runs ONE job instead of pin + a separate
        # count/isEmpty — measured ~0.55 -> ~0.30 s per round at
        # sf0.1, and at cluster scale it removes one scheduler
        # round-trip per round. The exact count also feeds the next
        # round's broadcast decision, which the small-graph isEmpty
        # probe could not.
        from pyspark.sql import Observation

        obs = Observation(f"cc_round_{rnd}")
        new_labels = new_labels.observe(
            obs,
            F.sum(
                (F.col("label") < F.col("__old")).cast("long")
            ).alias("changed"),
        ).transform(pin)
        frontier = new_labels.where(F.col("label") < F.col("__old")).select(
            "v", "label"
        )
        # non-blocking read with a counted fallback: metrics firing
        # during checkpoint materialization is observed behavior, not
        # documented API — if a Spark version stops delivering them
        # there (getOrEmpty waits ~100 ms then returns empty), fall
        # back to the explicit count rather than blocking forever in
        # Observation.get.
        try:
            have_metrics = not obs._jo.getOrEmpty().isEmpty()
        except Exception:
            have_metrics = False
        frontier_size = (
            int(obs.get["changed"] or 0)
            if have_metrics
            else frontier.count()
        )
        labels = new_labels.drop("__old")
        if frontier_size == 0:
            # singletons (vertices with no edges) keep their own id;
            # relay-only endpoints drop out here because the left join
            # starts from the caller's vertices
            out = verts.join(labels, "v", "left").select(
                "v", F.coalesce("label", "v").alias("label")
            )
            if edges_within_vertices:
                return out.select(F.col("v").alias(vertex_col), "label")
            # Re-normalize each component's label to the min id among
            # the caller's vertices (the propagated min could be a
            # relay endpoint's id, which must not surface).
            rep = out.groupBy("label").agg(F.min("v").alias("__rep"))
            return out.join(rep, "label").select(
                F.col("v").alias(vertex_col), F.col("__rep").alias("label")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the graph has extreme diameter — use star-contraction"
    )


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    d1: str = "d1",
    d2: str = "d2",
    edges_within_vertices: bool = True,
) -> DataFrame:
    """Cluster documents by ANY near-dup pair emitter's output
    (dedup.py pair frames all emit (d1, d2, ...)). Returns one row per
    document: (id_col, component, is_representative) — keep
    ``is_representative`` rows to dedup a corpus with transitive
    closure, the policy every major corpus-dedup pipeline uses
    (min-id representative is deterministic and rerun-stable).

    ``edges_within_vertices`` defaults True here: every dedup.py pair
    emitter draws d1/d2 from the same frame the caller passes as
    ``docs``, so the endpoint-union shuffle and final re-normalization
    join are skippable. Pass False when the pair frame came from a
    different (wider) corpus snapshot than ``docs``."""
    cc = connected_components(
        docs, pairs, id_col, d1, d2,
        edges_within_vertices=edges_within_vertices,
    )
    return cc.select(
        F.col(id_col),
        F.col("label").alias("component"),
        (F.col(id_col) == F.col("label")).alias("is_representative"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 2,
    damping: float = 0.85,
    dp: int = 6,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count, engineered (like
    similarity.kmeans_assign) to be exactly replayable by an
    independent SQL engine: ranks are rounded to ``dp`` decimals after
    every update, so the whole rank table sits under the full
    value-hash oracle instead of a convergence gate. Returns
    (node, rank).

    Assumes every node has out-degree >= 1 (true for symmetrized
    co-occurrence graphs, the intended input — build undirected graphs
    by emitting both edge directions); dangling-mass redistribution is
    deliberately out of scope for that input class.

    Scale shape per iteration: one join of the rank frame (|nodes|)
    onto the edge frame keyed by src, one shuffle-aggregate keyed by
    dst, one left join back onto the node frame for isolated-free
    reassembly — all standard co-partitionable hash operations; the
    rank frame is |nodes|-sized, never edge-sized.

    The edge frame appears in the final plan once per iteration plus
    the outw/nodes scans, but it is NOT pinned: within the one final
    action Spark's ReusedExchange dedupes the identical edge subplans,
    so only the driver-side N count pays a second edge build. Measured
    at sf10 on the part co-purchase graph (240M-row edge frame):
    localCheckpoint-pinning the edges was 38% SLOWER (66 s vs 48 s,
    plus GCLocker pressure) than letting exchange reuse handle it —
    materialized storage of an edge-sized frame costs more than one
    extra shuffle read. The connected_components checkpoint pattern is
    for UNBOUNDED iteration counts, where lineage growth (not scan
    count) is the enemy; with a fixed 2-3 iterations, reuse wins.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
    )
    outw = e.groupBy("__s").agg(F.sum("__w").alias("__outw"))
    nodes = e.select(F.col("__s").alias("node")).distinct()
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes
    # init NOT rounded: 1/N is the same double in any engine
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contrib = (
            e.join(outw, "__s")
            .join(ranks, e["__s"] == ranks["node"])
            .select(
                F.col("__d").alias("node"),
                # try_divide: a node whose out-edges ALL weigh zero
                # has no mass to distribute (0/0 share) — its
                # contributions are NULL and drop out of the sum,
                # the same treatment as a dangling node, instead of
                # the ANSI DIVIDE_BY_ZERO a plain / raises (r11
                # degenerate sweep)
                F.try_divide(
                    F.col("rank") * F.col("__w"), F.col("__outw")
                ).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    base + damping * F.coalesce(F.col("__in"), F.lit(0.0)), dp
                ).alias("rank"),
            )
        )
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph given as an edge
    list (either or both directions; self-loops and duplicates are
    dropped). Returns a 1-row (n_triangles) frame.

    Degree-ordered orientation (Cohen's MapReduce algorithm): every
    edge is oriented from its lower-(degree, id) endpoint to the
    higher, making the orientation acyclic and giving every triangle
    exactly one source node with two out-edges. Wedges are therefore
    enumerated only from each node's out-neighborhood — at most
    O(m^1.5) wedges total regardless of hub degree — instead of the
    naive a<b<c id-ordering whose wedge count explodes quadratically on
    a high-degree hub (a celebrity node in a social graph, a staple
    part in a co-purchase graph). The close step is one hash join of
    the wedge frame against the oriented edge list.

    A SQL oracle need not replicate the orientation: the triangle
    COUNT is orientation-invariant, so a plain a<b<c triple join
    verifies the result exactly.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("__db"))
    ranked = und.join(da, "a").join(db, "b")
    # orient low-(degree, id) -> high-(degree, id)
    low_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(low_first, F.col("__da")).otherwise(F.col("__db")).alias("__du"),
        F.when(low_first, F.col("__db")).otherwise(F.col("__da")).alias("__dv"),
    )
    e1 = oriented.select("u", F.col("v").alias("w1"), F.col("__dv").alias("__d1"))
    e2 = oriented.select("u", F.col("v").alias("w2"), F.col("__dv").alias("__d2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("__d1") < F.col("__d2"))
        | ((F.col("__d1") == F.col("__d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"])
    return tris.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "v",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from ANY seed vertex to each
    reachable vertex, bounded at ``max_hops`` (the k-hop neighborhood
    expansion behind "suggest related parts" / blast-radius queries).

    Min-plus label propagation, the same frontier discipline as
    connected_components: each round joins the CURRENT frontier (only
    vertices whose hop improved — round 1: the seeds at hop 0) against
    the undirected edge list, takes min(neighbor hop)+1 per target, and
    merges with a full outer join (newly DISCOVERED vertices enter the
    label frame; known ones keep their min). Exactly ``max_hops``
    rounds — bounded work by construction, no convergence probe needed;
    every round's labels are localCheckpoint-materialized so round k's
    plan never replays rounds 1..k-1. Per-round cost: one
    frontier-edges hash join + one hop-key shuffle — frontier-sized,
    not graph-sized, because BFS never revisits settled vertices
    (a vertex's hop can only be set once: strictly increasing rounds).

    Returns (vertex, hop), hop in [0, max_hops], reachable set only.

    Duplicate edges are TOLERATED, not a bug: min-plus is idempotent
    over multiplicity and each round's groupBy-min absorbs duplicates
    in the map-side partial. Callers should therefore NOT pre-distinct
    a dup-heavy edge derivation (e.g. co-purchase pairs) — the
    corpus-sized distinct hash aggregate costs more memory than the
    duplicates it removes (measured: AGGREGATE_OUT_OF_MEMORY at the
    synthetic sf10 on 200M pairs, vs a clean run with duplicates kept;
    BASELINE.md §4).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .transform(pin_lazy)
    )
    labels = (
        seeds.select(F.col(seed_col).alias("v"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .transform(pin)
    )
    frontier = labels
    for rnd in range(1, max_hops + 1):
        reached = (
            und.join(frontier.select(F.col("v").alias("fv"), "hop"),
                     und["a"] == F.col("fv"))
            .groupBy(F.col("b").alias("v"))
            .agg((F.min("hop") + F.lit(1)).alias("nhop"))
        )
        merged = (
            labels.join(reached, "v", "full")
            .select(
                "v",
                F.least(
                    F.coalesce("hop", F.lit(rnd)),
                    F.coalesce("nhop", F.lit(rnd)),
                ).alias("hop"),
                F.col("hop").alias("__old"),
            )
            .transform(pin)
        )
        frontier = merged.where(F.col("__old").isNull()).select("v", "hop")
        labels = merged.drop("__old")
        if frontier.isEmpty():
            break
    return labels


def weighted_sssp_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str = "v",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths bounded at ``max_hops``
    edges — Bellman-Ford with the delta-frontier discipline of
    :func:`bfs_hops`: each round relaxes only from vertices whose
    distance IMPROVED last round (round 1: the seeds at 0), takes
    min(dist + w) per neighbor, and full-outer-merges into the label
    frame. Unlike BFS a settled vertex can improve again (a longer-hop
    path can be cheaper), so the frontier test is "new OR strictly
    better", not "new". After r rounds dist[v] is exactly the min cost
    over paths of <= r edges (induction: an unimproved vertex already
    relaxed at its current distance), which is what makes a bounded
    recursive-CTE oracle replay it exactly.

    ``weight`` should be integer-typed for a value-hash oracle (exact
    sums; double costs work but reintroduce summation-order care).
    Duplicate edges are tolerated (min-plus absorbs multiplicity
    map-side — same policy as bfs_hops; don't pre-distinct dup-heavy
    derivations). Per-round cost: one frontier-edges hash join + one
    key shuffle, frontier-sized. Rounds are localCheckpoint-bounded.

    Returns (v, dist) over the reachable set.
    """
    und = (
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"),
            F.col(weight).alias("w"),
        )
        .union(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"),
                F.col(weight).alias("w"),
            )
        )
        .transform(pin_lazy)
    )
    dist = (
        seeds.select(F.col(seed_col).alias("v"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .transform(pin)
    )
    frontier = dist
    for _rnd in range(1, max_hops + 1):
        relaxed = (
            und.join(
                frontier.select(F.col("v").alias("fv"), "dist"),
                und["a"] == F.col("fv"),
            )
            .groupBy(F.col("b").alias("v"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        merged = (
            dist.join(relaxed, "v", "full")
            .select(
                "v",
                F.least(
                    F.coalesce("dist", F.col("nd")),
                    F.coalesce("nd", F.col("dist")),
                ).alias("dist"),
                F.col("dist").alias("__old"),
            )
            .transform(pin)
        )
        frontier = merged.where(
            F.col("__old").isNull() | (F.col("dist") < F.col("__old"))
        ).select("v", "dist")
        dist = merged.drop("__old")
        if frontier.isEmpty():
            break
    return dist


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    id_col: str = "doc_id",
    label_col: str = "label",
    d1: str = "d1",
    d2: str = "d2",
) -> DataFrame:
    """Semi-supervised label propagation with FROZEN labels — the
    deterministic variant: seeds keep their label forever; each
    synchronized round, every still-unlabeled node adjacent to any
    labeled node adopts the majority label among its labeled neighbors
    (ties to the lexicographically smallest), and is then frozen too.
    Freezing makes the process a multi-source BFS with per-wave
    majority votes: monotone, oscillation-free, and a pure function of
    (edges, seeds, rounds) — which is what lets a k-round unrolled SQL
    oracle replay it exactly. Classic relabel-everything LPA can cycle
    and is tie-order-dependent; this is the variant you can gate.

    Returns every node with (label, labeled_round): round 0 = seed,
    NULL = unreached within ``rounds``. Scale shape: per round one
    equi-join of the frontier onto the edge list plus one (node,
    label) count aggregate — the connected_components cost profile,
    with localCheckpoint per round to stop lineage growth."""
    und = edges.select(
        F.col(d1).alias("a"), F.col(d2).alias("b")
    ).unionByName(edges.select(F.col(d2).alias("a"), F.col(d1).alias("b")))

    labels = seeds.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.lit(0).alias("labeled_round"),
    ).transform(pin)

    for t in range(1, rounds + 1):
        cand = und.join(
            labels.select(F.col("id").alias("a"), "label"), "a"
        ).select(F.col("b").alias("id"), "label")
        newly = (
            cand.join(labels.select("id"), "id", "left_anti")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy("id").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
        )
        picked = (
            newly.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("id", "label", F.lit(t).alias("labeled_round"))
        )
        labels = labels.unionByName(picked).transform(pin)

    return nodes.select(F.col(id_col)).join(
        labels.select(F.col("id").alias(id_col), "label", "labeled_round"),
        id_col,
        "left",
    )
