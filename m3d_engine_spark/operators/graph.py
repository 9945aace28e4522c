"""Connected components — the clustering stage of a dedup pipeline.

Beyond-reference capability. Pair generators (MinHash/LSH, SimHash,
Jaccard, embedding near-dup) emit EDGES; production dedup needs the
transitive closure: every document labeled with its duplicate-cluster
id so one canonical survivor per cluster can be kept.

Two interchangeable implementations, same signature and output:

* ``connected_components`` — min-label propagation to a fixpoint:

      label(v) <- min(label(v), min over neighbors(label(u)))

  Each iteration is ONE distributed join + aggregation (shuffles keyed
  on vertex id); whether any label changed is observed while the
  round's checkpoint runs, so the driver adds no job of its own.
  Iterations needed = graph diameter — dedup-cluster diameters are
  tiny (banded LSH emits near-cliques), so 2-4 rounds in practice.
  This is the default for dedup workloads.

* ``connected_components_star`` — the large-star/small-star edge
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14): alternately point every high neighbor at its
  neighborhood minimum (large-star) and every low neighbor at the
  minimum of the low neighborhood (small-star) until the edge set is a
  union of stars centered at component minima. Converges in
  O(log² n) rounds REGARDLESS of diameter — the escape hatch for
  adversarial long-chain graphs where label propagation would pay
  diameter rounds. Each half-round is one aggregation + one join on
  the same vertex key. Edge volume never grows (each operation maps
  every edge to exactly one, possibly collapsing, edge), so peak
  shuffle size is bounded by the input edge count.

Determinism: the component id is min(vertex id) of the component —
engine-portable and oracle-checkable with a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from m3d_engine_spark.operators.base import pinned_join, tracked_checkpoint


def propagation_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation round: join each vertex's neighbors'
    labels, take the minimum, fold into the current label. Returns the
    updated (a, component, _changed) relation. Exposed for plan pinning
    (tools/gen_plans.py) — both shuffles key on the vertex id.

    ``sym`` is the symmetric (a, b) edge relation; ``labels`` is
    (a, component).

    Both joins are hinted sort-merge. Checkpointed inputs carry no size
    statistics, so unhinted, AQE picks the join strategy and build side
    from whichever shuffle stage finishes first: a rerun then plans a
    different join, generates different code and misses the codegen
    cache. At scale both sides are vertex-sized and sort-merge is the
    plan anyway.
    """
    neighbor_min = (
        sym.hint("merge").join(
            labels.select(
                F.col("a").alias("b"), F.col("component").alias("nb_label")
            ),
            on="b",
        )
        .groupBy("a")
        .agg(F.min("nb_label").alias("nb_min"))
    )
    return labels.hint("merge").join(neighbor_min, on="a", how="left").select(
        "a",
        F.least(
            F.col("component"), F.coalesce("nb_min", F.col("component"))
        ).alias("component"),
        (
            F.col("nb_min").isNotNull()
            & (F.col("nb_min") < F.col("component"))
        ).alias("_changed"),
    )


def _symmetrize(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
    track: "list | None" = None,
) -> DataFrame:
    """(id, component) with component = min id reachable from ``id``
    (including itself); nodes absent from ``edges`` form singleton
    components. ``edges`` is treated as undirected.

    Edge endpoints absent from ``nodes`` still CONDUCT: labels
    propagate over the full edge set (endpoints unioned in) and only
    the output is restricted to ``nodes`` — the same semantics as
    ``connected_components_star``, so the two stay swap-equivalent
    when ``nodes`` was pre-filtered but ``edges`` was not (pinned).

    Every checkpoint the loop takes goes on ``track``
    (``operators.base.tracked_checkpoint``) for the caller to free once
    the result has been consumed."""
    # The edge list is re-read EVERY round; left lazy, an expensive
    # upstream (an LSH pair pipeline) would be re-executed per
    # iteration. A checkpoint, not a cache: AQE coalesces the distinct's
    # shuffle before the rows land, so every round reads a state-sized
    # partition count (a cached plan keeps all spark.sql.shuffle.partitions
    # partitions and pays one task each, every round).
    sym = tracked_checkpoint(
        _symmetrize(edges, src_col, dst_col), track, eager=True
    )
    # Checkpointed once for the same reason; left lazy, round 1 would
    # compute the union + distinct twice (its join and its fold).
    labels = tracked_checkpoint(
        nodes.select(F.col(id_col).alias("a"))
        .union(sym.select("a"))  # sym is symmetric: "a" covers both ends
        .distinct()
        .select("a", F.col("a").alias("component")),
        track,
        eager=True,
    )
    converged = False
    for _ in range(max_iterations):
        # Materialize: without a checkpoint every later round would
        # re-execute the whole join chain from the start (quadratic in
        # rounds); the checkpoint also truncates the two-joins-per-round
        # lineage. The convergence probe rides on the checkpoint's own
        # job: the observation is filled when it finishes, so a round is
        # one query, not two. The fixed name keeps the generated code
        # the same every round, and later rounds and runs hit the
        # codegen cache.
        changed = Observation("cc_round")
        updated = tracked_checkpoint(
            propagation_round(sym, labels).observe(
                changed, F.bool_or("_changed").alias("changed")
            ),
            track,
            eager=True,
        )
        labels = updated.drop("_changed")
        if not changed.get["changed"]:  # None: no vertices at all
            converged = True
            break
    if not converged:
        # Same contract as connected_components_star: an unconverged
        # labeling is WRONG (a chain longer than max_iterations hops
        # would be split into fabricated components), never return it.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"label-propagation rounds (graph diameter exceeds the "
            f"budget); raise max_iterations or use "
            f"connected_components_star (O(log^2 n) rounds on chains)"
        )
    return pinned_join(
        nodes.select(F.col(id_col).alias("a")), labels, on="a"
    ).select(F.col("a").alias(id_col), "component")


def _large_star(down: DataFrame) -> DataFrame:
    """Large-star over the directed (hi=a, lo=b) edge set: every
    neighbor LARGER than u points at m = min(N(u) ∪ {u}).

    The full adjacency is the union of ``down`` and its reverse — the
    two directions are disjoint by construction, so the union needs no
    distinct. Every emitted edge (v, m) has v > m (v > u ≥ m), so the
    output is already in directed hi→lo form; one distinct dedups
    multi-source emissions. Join hinted as in ``propagation_round``."""
    sym = down.union(down.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_nbmin"))
        .select("a", F.least(F.col("_nbmin"), F.col("a")).alias("m"))
    )
    return (
        sym.hint("merge").join(m, on="a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(down: DataFrame) -> DataFrame:
    """Small-star over the directed (hi=a, lo=b) edge set: u and all
    its smaller neighbors point at the lowest of them. Emitted edges
    (v, m) have v > m and (u, m) has u > m — output stays directed
    hi→lo; one distinct dedups. Join hinted as in ``propagation_round``."""
    m = down.groupBy("a").agg(F.min("b").alias("m"))
    relink = (
        down.hint("merge").join(m, on="a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_link = m.select(F.col("a"), F.col("m").alias("b"))
    return relink.union(self_link).distinct()


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
    stats: dict | None = None,
    track: "list | None" = None,
) -> DataFrame:
    """Large-star/small-star contraction. Same contract as
    ``connected_components``; use when the graph may contain LONG
    chains (diameter ≫ log n), where label propagation pays one round
    per hop and this pays O(log² n) rounds total.

    Convergence: each (large, small) round ends with an aggregate
    fingerprint of the edge set — (count, sum of xxhash64(a, b)) —
    observed while the round's checkpoint runs, so it costs no job and
    no driver-side edge collection; the loop stops when the fingerprint
    repeats. Both operations only move edge endpoints downward, so the
    fingerprint sequence reaches its fixpoint in O(log² n) rounds
    (SoCC'14, Thm 1-2).

    ``stats``, if given, receives {"rounds": n} — pinned by
    tests/test_graph.py on a long chain. ``track`` as in
    ``connected_components``.
    """
    # Directed hi→lo representation throughout: (a, b) with a > b.
    # Half the rows of the symmetric form, and both star operations
    # emit edges already in this orientation, so no re-symmetrize
    # (union+distinct) shuffle between rounds.
    down = tracked_checkpoint(
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("a"),
            F.least(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        track,
        eager=True,
    )
    prev_fp = None
    rounds = 0
    converged = False
    for _ in range(max_iterations):
        fingerprint = Observation("cc_star_round")
        down = tracked_checkpoint(
            _small_star(_large_star(down)).observe(
                fingerprint,
                F.count(F.lit(1)).alias("n"),
                # decimal sum: a long sum of 64-bit hashes overflows
                # under ANSI mode; decimal(38,0) has 18 digits of
                # headroom.
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            ),
            track,
            eager=True,
        )
        rounds += 1
        fp = fingerprint.get
        if (fp["n"], fp["h"]) == prev_fp:
            converged = True
            break
        prev_fp = (fp["n"], fp["h"])
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # The centers extraction below assumes the star-shaped fixpoint
        # (every non-center has exactly ONE downward edge, to its
        # component min) — on a truncated edge set it would silently
        # fabricate components. Refuse instead.
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {rounds} "
            f"rounds (max_iterations={max_iterations}); raise the limit "
            "— O(log² n) rounds suffice for any input"
        )
    # Converged edge set is a union of stars: every non-center vertex
    # has exactly one downward edge, to its component's minimum.
    centers = down.groupBy("a").agg(F.min("b").alias("component"))
    out = (
        nodes.select(F.col(id_col).alias("a"))
        .join(centers, on="a", how="left")
        .select(
            F.col("a").alias(id_col),
            F.coalesce("component", F.col("a")).alias("component"),
        )
    )
    return out


def cluster_survivors(
    labels: DataFrame,
    quality: DataFrame,
    id_col: str,
    quality_col: str,
    component_col: str = "component",
) -> DataFrame:
    """Survivor selection — the step AFTER clustering in a dedup
    pipeline: per duplicate cluster keep exactly one document, the one
    with the highest ``quality_col`` (ties to the LOWEST id, so the
    choice is total and engine-portable — including STRING ids: the
    tie-break negates the quality, never the id, so URL/hash doc ids
    are legal; a ``-id`` form crashed on strings under ANSI and broke
    the total order silently with ANSI off). One min_by aggregation —
    map-side combinable, one exchange on the component key. Returns
    (component, survivor_id, cluster_size)."""
    joined = pinned_join(
        labels, quality.select(F.col(id_col), F.col(quality_col)), on=id_col
    )
    return joined.groupBy(component_col).agg(
        F.min_by(
            id_col,
            F.struct(
                (-F.col(quality_col)).alias("nq"), F.col(id_col).alias("i")
            ),
        ).alias("survivor_id"),
        F.count(F.lit(1)).cast("int").alias("cluster_size"),
    )


def triangle_count(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact triangle count via DEGREE ORIENTATION — the classic
    bound on the otherwise-quadratic wedge join (Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer").

    Input: an undirected edge list (any direction, duplicates fine).
    Returns ONE row (n_vertices, n_edges, n_wedges, n_triangles).

    Why orientation is the scale contract: counting by joining raw
    adjacency explodes on hubs — a degree-d vertex contributes d² wedge
    rows (the "last reducer" holds the biggest hub). Orienting every
    edge from the (degree, id)-smaller endpoint to the larger caps
    every out-degree at O(√m), so the wedge relation is O(m^1.5) WORST
    case instead of Σd² — and each triangle survives exactly once (its
    orientation-minimal vertex is the only wedge apex whose closing
    edge is oriented b→c).

    Topology: dedup to canonical (lo, hi) edges [1 keyed exchange] →
    degree aggregate [1 keyed exchange, vertex-sized] → two broadcast-
    or-SMJ joins hang degrees on the edge relation → wedge self-join on
    the apex [keyed] → closing-edge semi-join on (b, c) [keyed] → count
    (map-side combinable). No cartesian anywhere; every join keyed.
    """
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # e feeds the degree agg, the orientation join, the closing
        # side and the edge count — checkpoint it lazily so the
        # (possibly expensive) upstream edge derivation runs ONCE.
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    # orient from the (degree, id)-smaller endpoint to the larger
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("c"))
    wedges = w1.join(w2, on="s").filter(F.col("b") < F.col("c"))
    closing = e.select(
        F.col("u").alias("_cb"), F.col("v").alias("_cc"), F.lit(1).alias("_m")
    )
    # ONE pass over the O(m^1.5) wedge relation computes BOTH counts:
    # left-join the (unique) closing edges with a marker and aggregate
    # count(*) / count(marker) together — a separate semi-join for the
    # triangle count would execute the wedge join twice.
    marked = wedges.join(
        closing,
        on=[
            F.least(F.col("b"), F.col("c")) == F.col("_cb"),
            F.greatest(F.col("b"), F.col("c")) == F.col("_cc"),
        ],
        how="left",
    )
    wcounts = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_wedges"),
        F.count(F.col("_m")).cast("long").alias("n_triangles"),
    )
    stats = (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices")))
        .crossJoin(wcounts)
    )
    return stats.select("n_vertices", "n_edges", "n_wedges", "n_triangles")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-point PageRank over a DIRECTED edge list — the importance
    signal behind link-aware corpus weighting (sample web documents by
    the rank of their host, weight seeds for a crawl frontier).
    Symmetrize first (union both directions) for an undirected graph.

    Pass ``seeds`` (a relation of node ids) for PERSONALIZED PageRank:
    the teleport term concentrates on the seed set (base and init are
    nonzero only for seeds), so rank measures proximity to the seeds —
    the "expand a topic seed into a corpus subset" primitive. Same
    recurrence, same exactness; seeds ride the nodes relation as a
    flag column (one semi-style left join at build time, nothing
    per-round).

        r_{t+1}(v) = (100-d)·scale/100
                     + d · Σ_{u→v} (r_t(u) div outdeg(u)) / 100

    INTEGER fixed-point, not floating: ranks live on a ``scale``
    lattice (default 10¹²) and every step is exact long arithmetic
    (div = integer division), so the result is bit-identical across
    engines, partitionings, and reruns — the property a float PageRank
    loses to summation order before the second iteration. Floor losses
    make this the "remove dangling mass" PageRank variant (mass decays
    slightly rather than being redistributed); ranks are per-node
    normalized (init = ``scale``, i.e. the stationary value of a
    regular graph) so no global N enters the recurrence and the
    operator needs ZERO driver traffic. Headroom: sum(85·contrib)
    stays under 2⁶³ while n_nodes·scale < 10¹⁷ — drop ``scale`` one
    decade per decade of nodes beyond that.

    Topology: outdeg is ONE count aggregate; the (src, dst, outdeg) and
    node relations are eagerly checkpointed once and re-read each
    round; a round is ONE equi-join on src (ranks are node-keyed and
    outdeg-sized) plus ONE sum aggregate on dst — never a cross
    product, state never exceeds one long per node. ``iterations`` is
    fixed (PageRank converges geometrically at rate d; 5-10 rounds
    rank-order most graphs), so there is no per-round driver action:
    the result is lazy and the caller's action runs the whole loop.

    Returns (node, rank_int, rank): the exact lattice value and its
    6dp decode (rank ≈ 1.0 = the regular-graph stationary value).
    """
    iterations, damping_pct, scale = int(iterations), int(damping_pct), int(scale)
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Checkpoints, not caches, as in connected_components: every round
    # reads a state-sized partition count. nodes is read EVERY round
    # (the left side of the rank rebuild); it carries the per-node
    # teleport base (constant, or seed-masked for personalized).
    ed = e.join(deg, on="src").localCheckpoint(eager=True)
    base = ((100 - damping_pct) * scale) // 100
    endpoints = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        nodes = endpoints.select(
            "node",
            F.lit(base).cast("long").alias("b"),
            F.lit(int(scale)).cast("long").alias("r0"),
        ).localCheckpoint(eager=True)
    else:
        sd = seeds.select(
            F.col(seed_col).cast("long").alias("node")
        ).distinct().withColumn("_is_seed", F.lit(True))
        nodes = (
            endpoints.join(sd, on="node", how="left")
            .select(
                "node",
                F.when(F.col("_is_seed"), F.lit(base))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("b"),
                F.when(F.col("_is_seed"), F.lit(int(scale)))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("r0"),
            )
            .localCheckpoint(eager=True)
        )
    ranks = nodes.select("node", F.col("r0").alias("r"))
    for _ in range(iterations):
        contrib = (
            ed.join(
                ranks.select(F.col("node").alias("src"), F.col("r")),
                on="src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("r div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, on="node", how="left").select(
            "node",
            (
                F.col("b")
                + F.expr(f"{damping_pct} * coalesce(s, 0L) div 100")
            ).alias("r"),
        )
    return ranks.select(
        F.col("node"),
        F.col("r").alias("rank_int"),
        F.round(F.col("r").cast("double") / F.lit(float(scale)), 6).alias(
            "rank"
        ),
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities over a DIRECTED edge list (Kleinberg's
    link-analysis pair to PageRank): authority(v) sums the hub scores
    pointing at it, hub(u) sums the authority scores it points to —
    the "good list page vs good content page" decomposition, and in
    corpus curation the citing-page/cited-page split PageRank's single
    score conflates.

        a_{t+1}(v) = Σ_{u→v} h_t(u),  then  a ← a·scale div max(a)
        h_{t+1}(u) = Σ_{u→v} a_{t+1}(v), then h ← h·scale div max(h)

    INTEGER fixed-point on a ``scale`` lattice, like ``pagerank``: the
    per-round normalization is L∞ (divide by the max, the natural
    norm on an integer lattice — same fixed point direction as the
    textbook L2 form, reached at the same rate) computed as exact
    DECIMAL(38,0) multiply-then-integer-divide, so every score is
    bit-identical across engines, partitionings, and reruns at ANY
    graph size — n·scale² has 38 digits of headroom instead of
    long overflow at 10⁷ nodes.

    Topology (the pagerank discipline): the distinct edge and node
    relations are eagerly checkpointed once; each half-round is ONE
    equi-join of the node-keyed score relation against the edges plus
    ONE sum aggregate on the opposite endpoint; the round max is a
    broadcast 1-row aggregate (no driver traffic); ``iterations`` is
    fixed, and the caller's action executes the whole loop once.
    Nodes with no in-edges hold authority 0; no out-edges, hub 0.

    Returns (node, auth_int, hub_int, authority, hub): exact lattice
    values and their 6dp decodes (1.0 = the round's max).
    """
    iterations, scale = int(iterations), int(scale)
    if iterations < 1:
        # auths is only defined by the loop body; iterations=0 would
        # crash opaquely on auths.join below.
        raise ValueError("hits: iterations must be >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    renorm = (
        f"CAST(CAST(v AS DECIMAL(38,0)) * {scale} div mx AS BIGINT)"
    )
    hubs = nodes.select("node", F.lit(int(scale)).cast("long").alias("h"))
    auths = None
    for _ in range(iterations):
        # Each raw score relation is referenced TWICE (row side + its
        # own broadcast max) — left lazy that doubles the logical plan
        # every half-round (64x the base tree by round 3, an
        # OutOfMemory in plan stringification alone). A LAZY
        # localCheckpoint collapses the subtree to one RDD-backed scan
        # at build time while deferring execution to the caller's
        # action, preserving the run-the-loop-once discipline.
        a_raw = (
            e.join(hubs.select(F.col("node").alias("src"), "h"), on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("v"))
            .localCheckpoint(eager=False)
        )
        a_norm = a_raw.crossJoin(
            F.broadcast(a_raw.agg(F.max("v").alias("mx")))
        ).select("node", F.expr(renorm).alias("a"))
        auths = nodes.join(a_norm, on="node", how="left").select(
            "node", F.coalesce(F.col("a"), F.lit(0).cast("long")).alias("a")
        )
        h_raw = (
            e.join(auths.select(F.col("node").alias("dst"), "a"), on="dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("v"))
            .localCheckpoint(eager=False)
        )
        h_norm = h_raw.crossJoin(
            F.broadcast(h_raw.agg(F.max("v").alias("mx")))
        ).select("node", F.expr(renorm).alias("h"))
        hubs = nodes.join(h_norm, on="node", how="left").select(
            "node", F.coalesce(F.col("h"), F.lit(0).cast("long")).alias("h")
        )
    return (
        auths.join(hubs, on="node")
        .select(
            "node",
            F.col("a").alias("auth_int"),
            F.col("h").alias("hub_int"),
            F.round(F.col("a").cast("double") / F.lit(float(scale)), 6).alias(
                "authority"
            ),
            F.round(F.col("h").cast("double") / F.lit(float(scale)), 6).alias(
                "hub"
            ),
        )
    )


def kcore(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 3,
    rounds: int = 8,
) -> DataFrame:
    """k-core extraction by fixed-round degree peeling: repeatedly
    remove nodes of degree < k (and their incident edges) from the
    symmetrized graph — the standard dense-substructure filter
    (spam-farm detection, community seeds, "only keep nodes with
    enough corroborating links" curation).

    ``rounds`` is FIXED, the pagerank/hits discipline — no per-round
    driver action, the whole peel executes in one job. A round on an
    already-peeled graph is a no-op, so the result equals the true
    k-core whenever the graph's peel depth ≤ rounds (peel depth grows
    with diameter, not size: 8 covers typical web/co-occurrence
    graphs; raise it for pathological chains — a chain peels one layer
    per round). The matching oracle unrolls identical rounds, so the
    contract is exact at any rounds value.

    Topology: each round is ONE degree aggregate (map-side
    combinable) + two semi-joins keying the edge relation on
    surviving endpoints; the edge relation is collapsed per round by
    a lazy localCheckpoint (referenced by both the aggregate and the
    joins — left lazy the plan doubles per round). Returns the
    surviving (node, degree) — degree measured IN the core.
    """
    k, rounds = int(k), int(rounds)
    e = (
        _symmetrize(edges, src_col, dst_col)
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("a")
        e = (
            e.join(keep, on="a", how="leftsemi")
            .join(
                keep.select(F.col("a").alias("b")),
                on="b",
                how="leftsemi",
            )
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def random_walks(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    length: int = 4,
) -> DataFrame:
    """Deterministic random-walk corpus over the DIRECTED edge list —
    the DeepWalk/node2vec data-prep step: one walk per start node,
    ``length`` steps, each step choosing the
    ``md5(walk_id:step) mod outdeg``-th neighbor (sorted by id). The
    walk "randomness" is the same seed-free md5 convention every
    sampler in this repo uses, so the corpus is bit-identical across
    engines, partitionings, and reruns — which is exactly what you
    want when the walks feed a training run you may need to reproduce.
    Symmetrize first for an undirected graph; walks stop early at
    dead-end nodes (inner join semantics).

    Topology: the neighbor relation is ranked ONCE (row_number + count
    over one (src)-keyed exchange) and eagerly checkpointed, with the
    per-node degree split into its own (node, outdeg) relation; each
    step first computes the pick index on the WALK side (one md5 per
    live walk — the original form evaluated it inside the
    neighbor-join filter, i.e. once per ADJACENCY row: Σoutdeg ≈ |E|
    hashes per step instead of |walks|, measured as the dominant stage
    of the entry), then 1:1 equi-joins the pick against the ranked
    neighbors on ``(src, rk)`` — no per-step fan-out of the full
    adjacency at all.
    The per-step state is one row per live walk, collapsed by a lazy
    checkpoint (the state feeds both the output union and the next
    step — the hits() lineage discipline). ``length`` is fixed: the
    whole walk executes in one job, no per-step driver action.

    Returns (walk_id, step, node): step 0 is the start node itself.
    """
    length = int(length)
    if length < 1:
        raise ValueError("length must be >= 1")
    w_rank = Window.partitionBy("src").orderBy("dst")
    w_deg = Window.partitionBy("src")
    nb = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
        .withColumn("rk", F.row_number().over(w_rank))
        .withColumn("outdeg", F.count(F.lit(1)).over(w_deg))
        .localCheckpoint(eager=True)
    )
    deg = nb.filter(F.col("rk") == 1).select("src", "outdeg")
    state = (
        nb.select(F.col("src").alias("node"))
        .union(nb.select(F.col("dst").alias("node")))
        .distinct()
        .select(F.col("node").alias("walk_id"), F.col("node"))
    )
    out = state.select(
        "walk_id", F.lit(0).cast("int").alias("step"), "node"
    )
    for t in range(1, length + 1):
        idx = F.expr(
            f"pmod(CAST(conv(substring(md5(concat(CAST(walk_id AS STRING), "
            f"':', '{t}')), 1, 8), 16, 10) AS BIGINT), outdeg)"
        )
        pick = (
            state.join(deg, on=[state["node"] == deg["src"]])
            .select("walk_id", "node", (idx + 1).alias("_rk"))
        )
        state = (
            pick.join(
                nb,
                on=[pick["node"] == nb["src"], pick["_rk"] == nb["rk"]],
            )
            .select("walk_id", F.col("dst").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            state.select(
                "walk_id", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    return out


def label_spread(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    rounds: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation: spread the seed labels over
    the (symmetrized) graph for a fixed number of rounds — each node
    takes the majority label of its labeled neighbors, seeds stay
    CLAMPED, a node with no labeled neighbor keeps its previous label
    (NULL until first reached). The classification sibling of
    ``connected_components``' propagation (there the "label" is the
    min component id; here it is a clamped majority vote) — how a few
    thousand hand-labeled documents classify a billion-node
    similarity graph.

    Deterministic: the vote argmax orders by (count DESC, label ASC)
    — a total order — and fixed rounds mean no convergence race.

    Scale: per round ONE equi-join (neighbor labels) + one vote
    aggregate keyed on the node + a WindowGroupLimit argmax — the
    ``propagation_round`` topology with a vote instead of a min; the
    label relation is checkpointed per round (the plan-growth rule
    every iterative operator here follows).

    Returns ``(node, label, seeded)`` for every node that has a label
    after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e0 = edges.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
    sym = e0.unionByName(
        e0.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    ).distinct().localCheckpoint()
    sd = (
        seeds.select(
            F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
        )
        # A node seeded with two different labels would tie at _src=0 in
        # the clamp (partition-order-dependent winner) AND fan out the
        # final left join — resolve conflicts deterministically to the
        # smallest label up front.
        .groupBy("_n")
        .agg(F.min("_l").alias("_l"))
        .localCheckpoint()
    )
    labels = sd  # round 0: only seeds are labeled
    for _ in range(int(rounds)):
        votes = (
            sym.join(labels, sym["_b"] == labels["_n"], "inner")
            .groupBy(F.col("_a"), F.col("_l"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = Window.partitionBy("_a").orderBy(
            F.col("_c").desc(), F.col("_l").asc()
        )
        voted = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("_a").alias("_n"), F.col("_l"))
        )
        # seeds clamp; voted nodes update; previously-labeled,
        # unvoted nodes carry forward
        labels = (
            sd.withColumn("_src", F.lit(0))
            .unionByName(voted.withColumn("_src", F.lit(1)))
            .unionByName(labels.withColumn("_src", F.lit(2)))
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("_n").orderBy(F.col("_src").asc())
                ),
            )
            .filter(F.col("_rk") == 1)
            .select("_n", "_l")
            .localCheckpoint()
        )
    return labels.join(
        sd.select(F.col("_n"), F.lit(1).alias("seeded")), on="_n", how="left"
    ).select(
        F.col("_n").alias(node_col),
        F.col("_l").alias(label_col),
        F.coalesce(F.col("seeded"), F.lit(0)).cast("int").alias("seeded"),
    )
