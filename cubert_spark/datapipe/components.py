"""Connected components over near-duplicate pair graphs — the step
that turns pairwise dedup output (minhash/jaccard pairs) into
duplicate CLUSTERS with one representative per cluster.

Algorithm: iterative min-label propagation (the simplified
large-star/small-star scheme): every node repeatedly adopts the
minimum label among itself and its neighbors until fixpoint. Each
iteration is one join + one groupBy — all shuffle-on-key, no driver
data. Converges in O(diameter) rounds; dedup graphs are
near-clique bundles, so 2-4 rounds in practice. ``max_iter`` bounds
pathological chains; at true scale, checkpoint every few rounds to cut
lineage (parameter ``checkpoint_every``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from cubert_spark.checkpoints import eager_checkpoint, lazy_checkpoint


def _cc_union_find(sym: DataFrame) -> DataFrame:
    """Small-graph fast path: the WHOLE (deduplicated, symmetrized)
    edge set is coalesced into one partition and labeled by a single
    EXECUTOR-side union-find pass (path compression + union by root
    id). Output identical to the label-propagation loop by
    construction — component = MIN member id — and independent of
    edge order. One task instead of O(diameter) join rounds, each of
    which costs a full scheduled job; measured 8-10 s -> ~1 s on the
    11k-vertex golden_record graph at sf0.1."""
    import pandas as pd

    id_t = sym.schema["u"].dataType.simpleString()

    def kernel(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        seen = set()
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                seen.add(u)
                seen.add(v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by MIN root: the min id always stays root,
                    # so the final root IS the component minimum
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        ids = sorted(seen)
        yield pd.DataFrame({"id": ids, "component": [find(x) for x in ids]})

    return sym.coalesce(1).mapInPandas(kernel, f"id {id_t}, component {id_t}")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 5,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Label every vertex of the undirected pair graph with the MIN
    vertex id of its component. Output: (id, component).

    Vertices are those appearing in any edge; singletons (no edges)
    are their own components and can be unioned in by the caller.

    Two physical strategies behind one contract:
    - **small graphs** (symmetrized edge count <= ``small_graph_edges``,
      known exactly from the checkpointed edge set): one executor-side
      union-find task — O(diameter) scheduled join rounds collapse to
      a single pass. ~2M edges is ~32 MB of longs in one task's
      memory, far under executor headroom.
    - **at scale**: iterative min-label propagation, one join + one
      keyed min per round, shuffle-on-key only (pointer-jumping was
      A/B-rejected — see SCALE.md round-5 notes). Pass
      ``small_graph_edges=0`` to force this path.

    Storage ownership: the returned DataFrame is persisted (callers
    typically consume it several times; ``.unpersist()`` it when
    done). Intermediate rounds unpersist eagerly; localCheckpoint
    blocks (the edge set + every ``checkpoint_every``-th round) are
    reclaimed by the ContextCleaner once unreferenced.
    """
    # The edge set is static across iterations but its lineage (minhash
    # banding, shingle joins, ...) is expensive — checkpoint it ONCE so
    # no iteration replays the upstream dedup pipeline.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(eager_checkpoint)
    )
    if small_graph_edges and sym.count() <= small_graph_edges:
        return _cc_union_find(sym).persist()
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))

    for i in range(max_iter):
        # candidate labels: my own + the label of every neighbor
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .select(F.col("u"), F.col("label"))
        )
        new_labels = (
            labels.select("u", "label")
            .union(neighbor_labels)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        # Persist before the convergence probe so the probe and the
        # next iteration share one materialization; cut lineage every
        # checkpoint_every rounds so plan depth stays bounded.
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.transform(eager_checkpoint)
        else:
            new_labels = new_labels.persist()
        # round 1 always changes labels when any edge exists (every
        # non-minimum vertex adopts a smaller neighbor label), so the
        # convergence probe — an extra Spark action — starts at round 2
        if i == 0:
            changed = 1
            new_labels.count()  # still materialize the persist
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "u")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
        prev = labels
        labels = new_labels
        prev.unpersist()
        if changed == 0:
            break
    return labels.select(F.col("u").alias("id"), F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster docs by near-dup pairs; output one row per doc that
    appears in any pair: (doc_id, rep_id) with rep = min id of the
    cluster (representatives list themselves, rep_id == doc_id). Docs
    in no pair are implicitly their own singleton cluster — anti-join
    the corpus against this output to materialize them if needed."""
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").alias(id_col), F.col("component").alias("rep_id")
    )


def cluster_representatives(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware near-dup survivor selection: within each dedup
    cluster keep the HIGHEST-quality member instead of the min-id one
    — the "keep the longest/best document" policy production dedup
    actually ships (SlimPajama keeps the longest of each duplicate
    cluster; RefinedWeb and Gopher's MassiveWeb pick survivors by
    quality-adjacent heuristics). ``quality`` supplies one integer
    score row per id (higher = better, e.g. a char count or a
    quality-classifier score in milli-units).

    Determinism: the argmax key is the single bigint
    ``quality * 10^10 - id`` — a total order (unique ids below 10^10
    by contract), so ties on quality break toward the SMALLEST id
    identically in any engine; one max_by aggregate, no window. The
    key stays inside BIGINT only while quality < 9*10^8 (beyond that
    quality * 10^10 would exceed 2^63 and wrap under non-ANSI Spark),
    so the score is clamped to that bound with least() — scores above
    it compare equal and fall back to the min-id tie-break; rescale
    finer-grained scores upstream if that matters.

    Scale shape: the cluster labeling is the checkpointed min-label
    propagation of connected_components (pair-graph-sized, never the
    corpus); survivor selection adds one keyed join + one keyed agg.

    Output: (rep_id cluster label, kept_id survivor, n_members).
    """
    cl = dedup_clusters(pairs, id_col)
    j = cl.join(quality.select(F.col(id_col), F.col(quality_col)), id_col)
    return j.groupBy("rep_id").agg(
        F.expr(
            f"max_by({id_col}, least(CAST({quality_col} AS BIGINT),"
            f" CAST(900000000 AS BIGINT))"
            f" * CAST(10000000000 AS BIGINT) - {id_col})"
        ).alias("kept_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_num: int = 85,
    scale: int = 10 ** 12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-quantized PageRank: ranks live on a fixed-point scale
    (``scale`` = one unit of total mass) and every operation is exact
    bigint arithmetic — multiply, add, and truncating ``div`` — so a
    fixed iteration count yields BIT-IDENTICAL ranks in any engine
    (no float summation order, no log/exp). The standard float
    formulation differs only in dropping the quantization; flooring
    leaks < 1 unit of mass per node per round — noise at scale=1e12.

    r_0(v) = scale div N
    r_{t+1}(v) = (15 * scale) div (100 * N)
                 + (damping_num * sum_{u->v} (r_t(u) div outdeg(u))) div 100

    Dangling nodes (no out-edges) silently drop their mass — callers
    wanting the classic redistribution should symmetrize or add
    self-loops (the driver query uses a bidirectional bipartite graph,
    so none exist there).

    Output: (node, rank_q bigint). Scale shape: the edge list +
    out-degrees checkpoint ONCE (same move as connected_components);
    each iteration is one equi-join on the src + one keyed sum —
    shuffle-on-key only, lineage cut by the checkpoint, O(iterations)
    rounds wall-clock.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .transform(eager_checkpoint)
    )
    # outdeg joins into every round; checkpointing it (and the node
    # set) keeps each round's plan two joins deep instead of replaying
    # the degree/distinct aggs per round
    outdeg = (
        e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).transform(eager_checkpoint)
    )
    nodes = (
        e.select("u")
        .union(e.select(F.col("v").alias("u")))
        .distinct()
        .transform(eager_checkpoint)
    )
    n = nodes.count()  # cheap on the checkpointed node set
    base = (15 * scale) // (100 * n)
    ranks = nodes.withColumn("rank_q", F.lit(scale // n).cast("bigint"))

    for i in range(iterations):
        # (r16 A/B note: pre-folding rank_q div deg on the |V|-row
        # ranks⋈outdeg side before touching the edge list — one
        # |E|-sized join per round instead of two — measured a
        # consistent ~8% SLOWER at sf0.1 over two alternating passes
        # (3.45-3.69 -> 3.86-3.97 s): the chained e⋈ranks⋈outdeg
        # joins reuse one u-partitioning with no extra exchange, so
        # the second join is probe-CPU only, while the pre-fold adds
        # a join stage per round. Kept the chained spelling.)
        contrib = (
            e.join(ranks, "u")
            .join(outdeg, "u")
            .select(
                F.col("v").alias("u"),
                F.expr("rank_q div deg").alias("__c"),
            )
            .groupBy("u")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = nodes.join(contrib, "u", "left").select(
            "u",
            (
                F.lit(base).cast("bigint")
                + F.expr(f"({damping_num} * coalesce(__in, 0)) div 100")
            ).alias("rank_q"),
        )
        # lineage grows two joins per round: cut it every few rounds
        # (mid-loop only — a short fixed-iteration run stays ONE lazy
        # job with zero intermediate actions)
        if (i + 1) % 5 == 0 and (i + 1) < iterations:
            ranks = ranks.transform(eager_checkpoint)
    return ranks.select(F.col("u").alias("node"), "rank_q")


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance from a SOURCE SET over the undirected
    graph, bounded by ``max_hops`` — multi-source BFS by frontier
    expansion. Output: (node, hops) for every vertex reached within
    the bound (sources at 0); unreached vertices are absent.

    Each round is one equi-join (frontier onto the symmetrized edge
    set) + a left-anti dedup against the settled set — shuffle-on-key
    only, no driver data. The whole walk stays ONE lazy job (no
    mid-loop actions), but each round's new layer is LAZILY
    localCheckpoint'ed (r16): ``nxt`` feeds both the union and the
    next round's anti-join/frontier, so without the checkpoint the
    round-h plan re-evaluates every earlier round's join 2^(h-depth)
    times (r16 plan audit: 21 scans for a 3-hop walk; regenerate the
    explain dump with `tools/dump_plans.py`). With it, each round's join runs
    exactly once and later rounds read the layer's blocks — linear in
    max_hops, still zero driver-side data."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(eager_checkpoint)
    )
    dist = (
        sources.select(F.col(source_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        nxt = reached.join(
            dist.select("node"), "node", "left_anti"
        ).transform(lazy_checkpoint)
        dist = dist.unionByName(nxt.withColumn("hops", F.lit(h)))
        frontier = nxt
    return dist


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact global triangle count over an undirected edge list — the
    standard graph-density probe (dup-cluster cliquishness here;
    community structure generally). Algorithm: degree-ordered
    orientation (Cohen's MapReduce formulation, public) — orient every
    edge from its lower-(degree, id) endpoint to the higher one, build
    wedges by joining oriented edges on their source, and close each
    wedge (u→v, u→w) by probing the oriented edge (v→w). Orientation
    bounds every node's out-degree by O(sqrt(|E|)), so the wedge join
    — the only superlinear step — is sum(out_deg^2) <= |E|^1.5, never
    the unbounded star-join a naive formulation hits on hub nodes.

    Output: one row (n_nodes, n_edges, n_triangles). Input edges may
    carry duplicates or self-loops; both are dropped. Three keyed
    joins + two aggs at scale; the edge list is the only shuffled
    payload (two bigints per row). Like connected_components, the
    canonical edge set is localCheckpoint'ed ONCE: the upstream pair
    lineage (shingle joins, LSH banding) is expensive and this
    operator branches over the edges five ways — without the cut,
    every branch replays the pair generation (measured 13.9 s -> 2.9 s
    at sf0.1 on the ngram-jaccard graph, min of repeats)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(eager_checkpoint)
    )
    # (r16 A/B note: deg has three consumers — the da/db orientation
    # joins + the n_nodes agg — and checkpointing it looks like an
    # obvious diamond cut, but it LOSES ~3x (4.0 -> 11.6 s at sf0.1,
    # min-of-3 alternating stash arms, same session protocol): the
    # block materialization + per-consumer broadcast-build jobs over
    # the checkpointed relation cost far more than recomputing the
    # 2|E| union+agg from e's blocks. Same verdict as the gopher
    # gram-count checkpoint A/B. Kept uncheckpointed.)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u -> v iff (d(u), u) < (d(v), v)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented is referenced four ways below (both wedge legs + both
    # closing directions) — checkpoint it like the edge set so each
    # branch reuses the computed orientation instead of replaying the
    # two degree joins (21 -> 8 planned exchanges)
    oriented = ranked.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("w"),
    ).transform(eager_checkpoint)
    # r17 (adjacency-list intersection, replacing the wedge join):
    # tri = sum over oriented edges (u, w) of |N+(u) ∩ N+(w)| — each
    # triangle a->b, a->c, b->c is counted exactly once, at edge
    # (a, b) (c is a common out-neighbor; N+(c) contains neither).
    # The old shape enumerated sum(outdeg^2) wedge ROWS and shuffled
    # them by (v1, v2) into a closing SortMergeJoin against e — the
    # d^2 term crossed the network. Here the d^2 work happens in-CPU
    # (array_intersect over the two adjacency lists) and the only
    # shuffles are |V| adjacency rows (sum of list sizes = |E|) + the
    # |E|-row edge relation: the d^2 shuffle is gone. The second join
    # does carry nbr(u) per edge through the w-exchange (sum-d^2
    # bytes worst case), so at extreme hub skew the trade-off needs
    # AQE's skew split — the orientation already bounds out-degree by
    # O(sqrt|E|). A/B at sf0.1: 4.40 -> 2.74 s (min of 5
    # each, same box, same protocol).
    adj = oriented.groupBy("u").agg(
        F.collect_list("w").alias("nbr")
    )
    ea = oriented.join(adj, "u")
    eb = ea.join(
        adj.select(F.col("u").alias("w"), F.col("nbr").alias("nbr_w")),
        "w",
    )
    tri = eb.select(
        F.size(F.array_intersect("nbr", "nbr_w")).alias("__t")
    )
    return (
        # coalesce: an edgeless graph folds sum -> null where the old
        # count(*) gave 0
        tri.agg(
            F.coalesce(F.sum("__t"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )
