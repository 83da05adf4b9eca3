"""Graph / hierarchy operators (SURVEY.md §2.7 G1-G6).

Iterative DataFrame fixpoints with bounded depth + convergence checks,
localCheckpoint every round to cut lineage (SURVEY §7 "what's hard").
All loops are driver-side control flow over distributed joins. A loop's
convergence test reads an aggregate observed on the round's own checkpoint
job (checkpoint_observed): no loop runs a driver action of its own, and
no loop but resolve_chains returns a result it has not seen converge —
one that is still changing one round past its bound raises RuntimeError.
resolve_chains returns its last targets after max_depth rounds instead,
on purpose: a redirect cycle never settles, and the connected components
canonicalize_entities builds from its (src, root) pairs do not depend on
which cycle member ends up as the root.

The reachability fixpoints (ancestor_closure, descendants_bfs and
thesaurus.expand_disambiguation) share one semi-naive loop, _semi_naive:
each round expands only the previous round's new rows, so their outputs
are distinct, and a cycle converges instead of spinning to the bound.

Reference parity:
- ancestor_closure    ← expand_tuis / expand_dbpedia_cats + tree ascendants
                        (/root/reference/src/dataset/utils.py:138-173,343-360)
- descendants_bfs     ← GENIA get_descendants_cuis
                        (reference src/dataset/term2cat/genia.py:46-71)
- resolve_chains      ← redirect transitive closure until fixpoint
                        (/root/reference/src/kb_loader/db_pedia.py:55-71)
- connected_components_twostar
                      ← UnionFind (reference src/utils/utils.py:17-38),
                        lifted from per-sentence to corpus scale via
                        alternating large-star / small-star rounds
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from thesaurus_based_ner_spark.operators.checkpoint import (
    checkpoint,
    checkpoint_observed,
    fork,
)


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


def _semi_naive(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_depth: int,
    name: str,
) -> DataFrame:
    """Semi-naive reachability fixpoint: every row ``step`` reaches from
    ``seed``, the seed included, each row once.

    seed: a checkpointed frame of distinct rows. step: maps a frame with
    the seed's columns to the rows one hop on, same columns. Each round
    applies step to the previous round's new rows, keeps the distinct rows
    no earlier round holds and checkpoints them; the new-row count rides
    that checkpoint's job. Returns the lazy union of the rounds once a
    round finds no new row. Raises RuntimeError rather than return a
    truncated result when round max_depth + 1 still finds rows.

    Every reference to a checkpointed frame goes through fork: mixing a
    plan with its own checkpoint (shared expr ids) makes Spark 4.1's
    localCheckpoint throw NoSuchElementException on plan attributes.
    """
    _ensure_safe_optimizer(seed.sparkSession)
    rounds = [seed]

    def _so_far() -> DataFrame:
        out = fork(rounds[0])
        for d in rounds[1:]:
            out = out.unionByName(fork(d))
        return out

    for _ in range(max_depth + 1):
        nxt, obs = checkpoint_observed(
            step(fork(rounds[-1]))
            .distinct()
            .join(_so_far(), seed.columns, "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        if obs["n"] == 0:
            return _so_far()
        rounds.append(nxt)
    raise RuntimeError(
        f"{name}: new rows still found after max_depth={max_depth} "
        f"rounds; raise max_depth for this input"
    )


def ancestor_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    include_self: bool = True,
    max_depth: int = 32,
) -> DataFrame:
    """Distinct (node, ancestor) transitive closure by iterative self-join.

    Doubles the reachable depth per iteration is unnecessary for shallow
    ontologies (UMLS tree depth ≤ 9); we extend one level per round and stop
    when no new pairs appear, so a cycle converges too. include_self
    mirrors the reference's get_ascendant_tuis which includes the node
    itself (utils.py:343-360). Raises RuntimeError rather than return a
    truncated closure when the hierarchy needs more than max_depth rounds.
    """
    e = checkpoint(
        edges.select(
            F.col(child_col).alias("node"), F.col(parent_col).alias("ancestor")
        ).distinct()
    )

    def step(f: DataFrame) -> DataFrame:
        return (
            f.alias("f")
            .join(fork(e).alias("e"), F.col("f.ancestor") == F.col("e.node"))
            .select(F.col("f.node"), F.col("e.ancestor"))
        )

    closure = _semi_naive(e, step, max_depth, "ancestor_closure")
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
    roots: 1-column frame of start nodes. Returns the distinct reachable
    nodes as 1-column `node`; a cycle converges. Raises RuntimeError
    rather than return a truncated set when the frontier is still
    non-empty after max_depth rounds.
    """
    e = checkpoint(
        edges.select(
            F.col(parent_col).alias("parent"), F.col(child_col).alias("child")
        ).distinct()
    )

    def step(f: DataFrame) -> DataFrame:
        return (
            f.alias("f")
            .join(fork(e).alias("e"), F.col("f.node") == F.col("e.parent"))
            .select(F.col("e.child").alias("node"))
        )

    seed = checkpoint(roots.toDF("node").distinct())
    return _semi_naive(seed, step, max_depth, "descendants_bfs")


def resolve_chains(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 32,
) -> DataFrame:
    """(src, root) — follow src→dst chains to their terminal node.

    Semantics of the reference's redirect resolution loop
    (db_pedia.py:55-71): iterate replacing dst by dst's own target until no
    dst is itself a source. Redirect chains are meant to be acyclic, but a
    redirect table can hold a cycle, and on a cycle every row moves in
    every round, so the loop cannot see it converge. It therefore does not
    raise at max_depth, unlike the other loops here: remaining rows keep
    their last target (the reference's break-on-no-progress). Every member
    of a cycle then points at some member of the same cycle, so the
    connected components canonicalize_entities builds from the (src, root)
    pairs are the same whichever member that is.
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
        # whether any row moved is observed on the checkpoint job itself:
        # the convergence decision costs no Spark job of its own
        stepped, obs = checkpoint_observed(
            stepped, F.max(F.col("__moved").cast("int")).alias("m")
        )
        cur = stepped.drop("__moved")
        if not obs["m"]:
            break
    return cur


def _edge_signature() -> list[Column]:
    """(count, xor of row hashes) over the (u, v) rows with u != v: two
    equal signatures in a row mean the edge set stopped changing."""
    edge = F.col("u") != F.col("v")
    return [
        F.count(F.when(edge, 1)).alias("n"),
        F.bit_xor(F.when(edge, F.xxhash64("u", "v"))).alias("h"),
    ]


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
    groupBy-min + join shuffles, all key-partitioned, and two
    checkpoints. Convergence compares a signature (count + xor of row
    hashes) observed on the small-star checkpoint's own job with the
    previous round's: a round costs no signature job and no driver
    anti-join. Raises RuntimeError rather than return an unconverged map
    when round max_iters + 1 still changes the edge set.

    large-star: every neighbor v > u re-points at m(u) = min(N(u) ∪ {u});
    small-star: every neighbor v ≤ u (and u itself) points at m(u).
    At fixpoint every node points directly at its component min.

    An edge with a NULL endpoint joins nothing; each of its endpoints,
    NULL included, is emitted as its own component unless an edge
    connects it. So is a node that appears only in self-loops.
    """
    _ensure_safe_optimizer(edges.sparkSession)
    # Every input row as a canonical (big, small) pair, checkpointed once:
    # the loop starts from its u != v rows, and the singleton roots come
    # from its endpoints, so the input plan runs once. The swap is a
    # comparison, not greatest/least, which skip NULLs: a row with a NULL
    # endpoint keeps both endpoints as they are. One distinct, after
    # canonicalization: the (big, small) distinct yields the identical
    # edge set from duplicated or mirrored input (r9).
    swap = F.col("x") < F.col("y")
    pairs, sig = checkpoint_observed(
        edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .select(
            F.when(swap, F.col("y")).otherwise(F.col("x")).alias("u"),
            F.when(swap, F.col("x")).otherwise(F.col("y")).alias("v"),
        )
        .distinct(),
        *_edge_signature(),
    )
    cur = pairs.filter(F.col("u") != F.col("v"))

    def _min_nbr(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.min("v").alias("__mv")).select(
            "u", F.least("__mv", "u").alias("m")
        )

    for _ in range(max_iters + 1):
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
        cur, new_sig = checkpoint_observed(
            small.filter(F.col("u") != F.col("v")).distinct(), *_edge_signature()
        )
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_twostar: edges still changing after "
            f"max_iters={max_iters} rounds; raise max_iters for this graph"
        )
    # fixpoint: (u, v) edges point nodes at their component min
    membership = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # singletons: an endpoint no edge connects (a NULL, or a node seen only
    # in self-loops) is its own component
    roots = (
        fork(pairs).select("u")
        .union(fork(pairs).select(F.col("v").alias("u")))
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

    Power iteration with dangling-mass redistribution. Each node carries
    a ``dangling`` flag (no out-edge), computed once with the node table.
    The global scalars ride checkpoint jobs as observed aggregates: the
    node count on the nodes checkpoint, and each round's dangling mass on
    that round's rank checkpoint, which the next round reads as a
    literal. So there is no driver-side action inside the loop and no
    per-round anti-join or cross-join; lineage is cut per iteration with
    localCheckpoint. Per iteration: one rank⋈edges shuffle on src (edges
    pre-joined with out-degree once, checkpointed) + one groupBy dst —
    the canonical 2-shuffle PR round, skew handled by AQE.

    Returns (node, rank) with rank scaled by N (average = 1.0, so a
    6-dp rounding keeps ~7 significant digits for oracle comparison).
    """
    spark = edges.sparkSession
    _ensure_safe_optimizer(spark)
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    out_deg = fork(e).groupBy("src").agg(F.count("*").alias("deg"))
    nodes, obs = checkpoint_observed(
        fork(e).select(F.col("src").alias("node"))
        .union(fork(e).select("dst"))
        .distinct()
        .join(out_deg.withColumnRenamed("src", "node"), "node", "left")
        .select("node", F.col("deg").isNull().alias("dangling")),
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("dangling"), 1)).alias("d"),
    )
    deg_edges = checkpoint(fork(e).join(out_deg, "src"))
    # an empty graph has no rank to compute; 1 keeps the literals finite
    n = float(obs["n"] or 1)
    ranks = fork(nodes).withColumn("rank", F.lit(1.0 / n))
    dmass = obs["d"] * (1.0 / n)
    for _ in range(iters):
        r = fork(ranks)
        contribs = (
            r.join(fork(deg_edges), r.node == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks, obs = checkpoint_observed(
            fork(nodes)
            .join(contribs, "node", "left")
            .select(
                "node",
                "dangling",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dmass / n)
                    )
                ).alias("rank"),
            ),
            F.coalesce(
                F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
            ).alias("dmass"),
        )
        dmass = obs["dmass"]
    return fork(ranks).select(
        "node", F.round(F.col("rank") * F.lit(n), 6).alias("rank")
    )
