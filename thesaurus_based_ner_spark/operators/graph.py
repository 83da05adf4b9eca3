"""Graph / hierarchy operators (SURVEY.md §2.7 G1-G6).

Iterative DataFrame fixpoints with bounded depth + convergence checks,
localCheckpoint every few rounds to cut lineage (SURVEY §7 "what's hard").
All loops are driver-side control flow over distributed joins — no
collect() of edge data.

Reference parity:
- ancestor_closure    ← expand_tuis / expand_dbpedia_cats + tree ascendants
                        (/root/reference/src/dataset/utils.py:138-173,343-360)
- resolve_chains      ← redirect transitive closure until fixpoint
                        (/root/reference/src/kb_loader/db_pedia.py:55-71)
- connected_components_twostar
                      ← UnionFind (reference src/utils/utils.py:17-38),
                        lifted from per-sentence to corpus scale via
                        alternating large-star / small-star rounds
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from thesaurus_based_ner_spark.operators.checkpoint import checkpoint, fork


_BAD_RULE = "org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAliases"


def _ensure_safe_optimizer(spark) -> None:
    """Exclude RemoveRedundantAliases (runtime SQL conf) — Spark 4.1.2
    emits invalid plans / checkpoint canonicalization failures with it on
    iterative self-join graphs over checkpointed frames. Called from every
    iterative graph operator so the library is safe under ANY session
    (spark-submit ship path included), not just our get_spark() builder.
    """
    cur = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    if _BAD_RULE not in cur:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            f"{cur},{_BAD_RULE}" if cur else _BAD_RULE,
        )


def ancestor_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    include_self: bool = True,
    max_depth: int = 32,
) -> DataFrame:
    """(node, ancestor) transitive closure of a DAG by iterative self-join.

    Doubles the reachable depth per iteration is unnecessary for shallow
    ontologies (UMLS tree depth ≤ 9); we extend one level per round and stop
    when no new pairs appear. include_self mirrors the reference's
    get_ascendant_tuis which includes the node itself (utils.py:343-360).
    """
    _ensure_safe_optimizer(edges.sparkSession)
    e = checkpoint(
        edges.select(
            F.col(child_col).alias("node"), F.col(parent_col).alias("ancestor")
        ).distinct()
    )
    # closure is kept as a LIST of checkpointed deltas, unioned lazily:
    # each delta is an RDD-scan plan so lineage stays flat. Only the
    # CHECKPOINTED e is referenced below — mixing a plan with its own
    # checkpoint (shared expr ids) makes Spark 4.1's localCheckpoint throw
    # NoSuchElementException on plan attributes.
    deltas = [e]
    frontier = deltas[0]

    def _closure_so_far() -> DataFrame:
        out = fork(deltas[0])
        for d in deltas[1:]:
            out = out.unionByName(fork(d))
        return out

    for _ in range(max_depth):
        nxt = (
            fork(frontier).alias("f")
            .join(fork(e).alias("e"), F.col("f.ancestor") == F.col("e.node"))
            .select(F.col("f.node"), F.col("e.ancestor"))
            .distinct()
            .join(_closure_so_far(), ["node", "ancestor"], "left_anti")
        )
        nxt = checkpoint(nxt)
        # 1-row count aggregate, consistent with the signature convergence
        # tests elsewhere — no isEmpty in any iterative loop
        if nxt.agg(F.count("*").alias("n")).collect()[0]["n"] == 0:
            break
        deltas.append(nxt)
        frontier = nxt
    closure = _closure_so_far()
    if include_self:
        nodes = (
            fork(e).select("node")
            .union(fork(e).select("ancestor"))
            .distinct()
            .select("node", F.col("node").alias("ancestor"))
        )
        closure = closure.unionByName(nodes).distinct()
    return closure


def descendants_bfs(
    edges: DataFrame,
    roots: DataFrame,
    parent_col: str = "cui1",
    child_col: str = "cui2",
    max_depth: int = 64,
) -> DataFrame:
    """Root-set descendant closure by BFS frontier expansion — the
    reference's GENIA UMLS loader (get_descendants_cuis,
    /root/reference/src/dataset/term2cat/genia.py:46-71): iterate MRREL
    CHD edges from the root set until no unsearched CUIs remain; roots
    themselves are included in the result.

    Unlike ancestor_closure (all-pairs closure), only the reachable SET
    propagates — per-round state is O(|reachable|), and each round is one
    equi-join on the frontier. edges: (parent_col, child_col) rows;
    roots: 1-column frame of start nodes. Returns 1-column `node`.
    """
    _ensure_safe_optimizer(edges.sparkSession)
    e = checkpoint(
        edges.select(
            F.col(parent_col).alias("parent"), F.col(child_col).alias("child")
        ).distinct()
    )
    seen = [checkpoint(roots.toDF("node").distinct())]
    frontier = seen[0]

    def _seen() -> DataFrame:
        out = fork(seen[0])
        for d in seen[1:]:
            out = out.unionByName(fork(d))
        return out

    def _expand(cur: DataFrame) -> DataFrame:
        return checkpoint(
            fork(cur).alias("f")
            .join(fork(e).alias("e"), F.col("f.node") == F.col("e.parent"))
            .select(F.col("e.child").alias("node"))
            .distinct()
            .join(_seen(), ["node"], "left_anti")
        )

    converged = False
    for _ in range(max_depth):
        nxt = _expand(frontier)
        # 1-row count aggregate for convergence — no isEmpty in loops
        if nxt.agg(F.count("*").alias("n")).collect()[0]["n"] == 0:
            converged = True
            break
        seen.append(nxt)
        frontier = nxt
    if not converged:
        # A hierarchy of depth exactly max_depth discovers its last layer
        # on the final iteration and exits with converged=False even
        # though the closure is complete (ADVICE r5) — one extra
        # expansion distinguishes "done on the last round" from
        # "genuinely truncated".
        converged = (
            _expand(frontier).agg(F.count("*").alias("n")).collect()[0]["n"]
            == 0
        )
    if not converged:
        # ADVICE r4: the reference (get_descendants_cuis, genia.py:46-71)
        # iterates until the frontier empties — returning a silently
        # truncated closure on a deeper-than-max_depth hierarchy would
        # quietly lose descendants. Fail loud like an unconverged fixpoint.
        raise RuntimeError(
            f"descendants_bfs: frontier still non-empty after max_depth="
            f"{max_depth} rounds; raise max_depth for this hierarchy"
        )
    return _seen()


def resolve_chains(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 32,
) -> DataFrame:
    """(src, root) — follow src→dst chains to their terminal node.

    Semantics of the reference's redirect resolution loop
    (db_pedia.py:55-71): iterate replacing dst by dst's own target until no
    dst is itself a source. Chains are assumed acyclic (redirect chains);
    max_depth bounds pathological cycles — on hitting it, remaining rows
    keep their last target (same as the reference's break-on-no-progress).
    """
    _ensure_safe_optimizer(edges.sparkSession)
    cur = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("root"))
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    )
    for _ in range(max_depth):
        stepped = (
            cur.join(e, cur["root"] == e["__s"], "left")
            .select("src", F.coalesce("__d", "root").alias("root"),
                    F.col("__s").isNotNull().alias("__moved"))
        )
        stepped = checkpoint(stepped)
        # 1-row signature aggregate (same trick as twostar CC) — the
        # convergence decision costs one tiny collect, never a filtered
        # materialization
        moved = stepped.agg(
            F.max(F.col("__moved").cast("int")).alias("m")
        ).collect()[0]["m"]
        cur = stepped.drop("__moved")
        if not moved:
            break
    return cur


def connected_components_twostar(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 25,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Converges in O(log n) rounds on ANY graph shape, so web graphs with
    long chains or unknown diameter stay cheap. Each round is two
    groupBy-min + join shuffles, all key-partitioned; convergence is
    detected from a 1-row signature aggregate (count + xor of row hashes),
    not a driver anti-join.

    large-star: every neighbor v > u re-points at m(u) = min(N(u) ∪ {u});
    small-star: every neighbor v ≤ u (and u itself) points at m(u).
    At fixpoint every node points directly at its component min.
    """
    _ensure_safe_optimizer(edges.sparkSession)
    # one distinct, after canonicalization: a pre-canonical distinct would
    # be strictly redundant (the (greatest, least) distinct below yields
    # the identical edge set from duplicated or mirrored input) and cost a
    # second full shuffle of the edge set before the loop (r9)
    e = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # operate on canonical (big, small) pairs, symmetrize per round
    cur = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    cur = checkpoint(cur)

    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _min_nbr(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.min("v").alias("__mv")).select(
            "u", F.least("__mv", "u").alias("m")
        )

    sig = _sig(cur)
    for _ in range(max_iters):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = _min_nbr(sym)
        # large-star: (v, m(u)) for v ∈ N(u), v > u
        large = (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        cur = (
            large.filter(F.col("u") != F.col("v")).distinct()
        )
        cur = checkpoint(cur)
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = _min_nbr(sym)
        # small-star: (v, m(u)) for v ∈ N(u) ∪ {u}, v ≤ u
        small = (
            sym.join(mn, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mn.select(F.col("u"), F.col("m").alias("v")))
        )
        cur = small.filter(F.col("u") != F.col("v")).distinct()
        cur = checkpoint(cur)
        new_sig = _sig(cur)
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint: (u, v) edges point nodes at their component min
    membership = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # singletons come from the ORIGINAL edge list: a node appearing only
    # in self-loops was filtered out of `e` and must still be emitted as
    # its own component
    roots = (
        edges.select(F.col(a_col).alias("u"))
        .union(edges.select(F.col(b_col).alias("u")))
        .distinct()
        .join(membership.select("node"), F.col("u") == F.col("node"), "left_anti")
        .select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
    return membership.unionByName(roots)


def transitive_reduction(
    edges: DataFrame, child_col: str = "child", parent_col: str = "parent"
) -> DataFrame:
    """G2: minimal DAG with the same reachability (reference uses
    networkx.transitive_reduction on the DBpedia ontology,
    /root/reference/src/dataset/utils.py:206-217).

    Edge u→v is redundant iff some other out-edge u→w reaches v
    transitively (w ≠ v). One closure build + one equi-join + one anti
    join — ontology graphs are dim-sized, the closure is the bounded
    iterative self-join from ancestor_closure.
    """
    e = edges.select(
        F.col(child_col).alias("u"), F.col(parent_col).alias("v")
    ).distinct()
    closure = ancestor_closure(e, "u", "v", include_self=False)
    mid = (
        e.alias("e1")
        .join(
            closure.alias("c"),
            (F.col("e1.v") == F.col("c.node")),
        )
        .select(F.col("e1.u").alias("u"), F.col("c.ancestor").alias("v"))
        .distinct()
    )
    return e.join(mid, ["u", "v"], "left_anti").select(
        F.col("u").alias(child_col), F.col("v").alias(parent_col)
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table — the
    entity-importance primitive for canonical-entity selection when
    canonicalization (two-star CC) leaves a cluster with several
    candidate representatives (reference picks by redirect target only,
    /root/reference/src/kb_loader/db_pedia.py:55-71; rank generalizes it).

    Power iteration with dangling-mass redistribution. Everything stays
    in the plan: per-iteration global scalars (dangling mass) are
    1-row aggregates broadcast-crossjoined, never collected, so there is
    no driver-side action inside the loop; lineage is cut per iteration
    with localCheckpoint. Per iteration: one rank⋈edges shuffle on src
    (edges pre-joined with out-degree once, checkpointed) + one groupBy
    dst — the canonical 2-shuffle PR round, skew handled by AQE.

    Returns (node, rank) with rank scaled by N (average = 1.0, so a
    6-dp rounding keeps ~7 significant digits for oracle comparison).
    """
    spark = edges.sparkSession
    _ensure_safe_optimizer(spark)
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes = checkpoint(
        fork(e).select(F.col("src").alias("node"))
        .union(fork(e).select("dst"))
        .distinct()
    )
    out_deg = fork(e).groupBy("src").agg(F.count("*").alias("deg"))
    deg_edges = checkpoint(fork(e).join(out_deg, "src"))
    n_df = fork(nodes).agg(F.count("*").cast("double").alias("n"))
    ranks = (
        fork(nodes)
        .crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
    )
    for _ in range(iters):
        r = fork(ranks)
        contribs = (
            r.join(fork(deg_edges), r.node == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        dangling = (
            fork(ranks)
            .join(fork(deg_edges).select("src").distinct(),
                  F.col("node") == F.col("src"), "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = checkpoint(
            fork(nodes)
            .join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.col("n")
                    )
                ).alias("rank"),
            )
        )
    return (
        fork(ranks)
        .crossJoin(F.broadcast(n_df))
        .select("node", F.round(F.col("rank") * F.col("n"), 6).alias("rank"))
    )
