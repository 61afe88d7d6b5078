"""Connected components — duplicate-cluster resolution.

Near-dup operators (MinHash/SimHash/Jaccard) emit PAIRS; a dedup
pipeline needs CLUSTERS (every doc labeled with a canonical id) so one
representative per cluster survives. That closure step is a
connected-components problem.

Two execution strategies behind one API:

1. **Driver union-find** (edge count <= `collect_threshold`): after
   near-dup filtering the edge list is a tiny fraction of the corpus
   (~0.1% of docs have a near-dup partner); collecting a few million
   edges to the driver is the SAME memory contract as the collected
   side of a broadcast join, and path-compressed union-find closes the
   components in milliseconds with zero Spark rounds. The edge count
   is known for free — the symmetrized edge list is materialized
   (localCheckpoint) for the iterative path anyway.

2. **Iterative min-label propagation** (bigger graphs): every node
   starts as its own component, each round every node takes the min
   label among itself and its neighbors, until a fixpoint. Converges
   in O(graph diameter) rounds; near-dup graphs are overwhelmingly
   tiny cliques (diameter 1-2), so 3-5 rounds in practice. Each round
   is one join (labels x edges) + one min-agg — two hash shuffles on
   node id, no collect, state is one row per node. Lineage is cut with
   localCheckpoint each round (iterative plans otherwise stack
   exponentially in the optimizer). Only edge endpoints participate in
   the iteration; isolated nodes are reattached at the end.

3. **Large-star / small-star** (`strategy="star"`): the alternating
   algorithm of Kiveris et al., "Connected Components in MapReduce and
   Beyond" (SoCC'14) — O(log^2 n) rounds regardless of graph diameter,
   from the same groupBy-min + join building blocks. This is the scale
   path for ADVERSARIAL long-chain graphs where min-label propagation
   needs O(diameter) rounds; dedup graphs (tiny cliques) don't need it,
   so "propagate" stays the default distributed strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sh_design_spark.sources.io import local_table


def _union_find_components(edge_rows, nodes: DataFrame, node_col: str) -> DataFrame:
    """Driver-side path-compressed union-find over a collected edge
    list; results are identical to the distributed fixpoint (component
    id = min reachable node id)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        if src not in parent:
            parent[src] = src
        if dst not in parent:
            parent[dst] = dst
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by min so the root IS the min id of the component
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    labels = [(x, find(x)) for x in parent]
    spark = nodes.sparkSession
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    if not labels:
        return all_nodes.withColumn("component", F.col("node"))
    lab_df = local_table(
        spark,
        labels, schema=nodes.select(F.col(node_col).alias("node")).schema.add("component", nodes.schema[node_col].dataType)
    )
    return all_nodes.join(F.broadcast(lab_df), "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def _star_components(sym: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14) over
    a symmetrized, materialized edge list. Returns (node, component)
    for every edge endpoint; component = min reachable node id.

    Each round is two groupBy-min + join passes; the edge list
    monotonically contracts toward star graphs rooted at each
    component's min node. Convergence in O(log^2 n) rounds regardless
    of diameter — the property min-label propagation lacks. The
    fixpoint test is exact and hash-free: the canonical edge set is a
    union of MIN-rooted stars iff (a) no edge's parent (v) is itself a
    child (u) of another edge — rules out chains — AND (b) every child
    u appears in exactly one edge — rules out a star centered at its
    MAX node (e.g. {(2,4),(3,4)}: chain-free, yet node 4 has two
    parents, so emitting (u, v) rows would label it twice). Two
    semi-join/agg + limit(1) probes per round; one more round always
    resolves the max-centered-star state.
    """
    edges = sym  # symmetric (both directions present), already checkpointed

    def canonical(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()

    def not_star_forest(e: DataFrame) -> bool:
        parents = e.select(F.col("v").alias("x"))
        children = e.select(F.col("u").alias("x"))
        if parents.join(children, "x", "left_semi").limit(1).count() > 0:
            return True  # some parent is another edge's child: a chain
        # chain-free but a child attached to >1 root: max-centered star
        dup = e.groupBy("u").count().filter(F.col("count") > 1)
        return dup.limit(1).count() > 0

    cur = canonical(edges).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        if not not_star_forest(cur):
            converged = True
            break
        # large-star: per node u over ALL neighbors, attach the
        # larger neighbors to m = min(N(u) + {u})
        bi = cur.select("u", "v").unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bi.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        step1 = canonical(large.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        # small-star: per node u over SMALLER neighbors (canonical
        # orientation u > v), re-root them all at m = min
        mins2 = step1.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            step1.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        cur = canonical(
            small.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        ).localCheckpoint(eager=True)
    if not converged and not_star_forest(cur):
        import warnings

        warnings.warn(
            f"star components: not a star forest within max_iter={max_iter} rounds; "
            "labels may be unconverged.",
            RuntimeWarning,
            stacklevel=2,
        )
    # at the fixpoint every edge is (child, root): child > root = min id
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return cur.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(roots).distinct()


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    collect_threshold: int = 5_000_000,
    strategy: str = "propagate",
) -> DataFrame:
    """Label every node with its component id = min node id reachable.

    `nodes`: one column `node_col` (include isolated nodes).
    `edges`: `src_col`, `dst_col` (undirected; any orientation).
    Returns (node, component).

    Edge lists up to `collect_threshold` (symmetrized rows) are solved
    with driver union-find (see module docstring); pass 0 to force the
    distributed path. `strategy` picks the distributed algorithm:
    "propagate" (min-label fixpoint, O(diameter) rounds — right for
    dedup-shaped clique graphs) or "star" (large-star/small-star,
    O(log^2 n) rounds — right for adversarial long-chain graphs).
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()  # free: sym is materialized
    if n_edges <= collect_threshold:
        # one driver round-trip when the edge list is comfortably small;
        # toLocalIterator (one fetch per partition — measured ~30 extra
        # scheduler rounds on local[32]) only above that
        if n_edges <= 1_000_000:
            rows = sym.collect()
        else:
            rows = sym.toLocalIterator()
        return _union_find_components(
            ((r["src"], r["dst"]) for r in rows), nodes, node_col
        )

    if strategy == "star":
        star_labels = _star_components(sym, max_iter)
        all_nodes = nodes.select(F.col(node_col).alias("node"))
        return all_nodes.join(star_labels, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )

    # Only edge endpoints can ever change label; isolated nodes (the
    # overwhelming majority in a dedup graph — most documents have no
    # near-dup) are reattached after the fixpoint with component=node,
    # so the iteration's joins run on |V(edges)|, not |nodes|.
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(sym, labels["node"] == sym["src"])
            .groupBy(sym["dst"].alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # Carry a per-row changed flag through the checkpoint so the
        # convergence test is a scan of already-materialized partitions,
        # not a second join job against the previous labels.
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint within max_iter={max_iter} rounds; "
            "component labels may be unconverged (long-chain graph?). "
            "Raise max_iter or switch to a large-star/small-star variant.",
            RuntimeWarning,
            stacklevel=2,
        )
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
