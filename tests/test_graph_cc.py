"""Connected components: large-star/small-star vs a union-find reference.

connected_components_twostar's contract is (node, component=min id).
It must agree with a plain-Python union-find on every shape, including
the long chain that makes O(diameter) label propagation pathological.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators.graph import connected_components_twostar


def _edges(spark, pairs):
    body = ", ".join(f"({a}, {b})" for a, b in pairs)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t(a, b)")


def _result(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def _union_find(pairs):
    """Spark-free reference: {(node, min node id of its component)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


def test_twostar_matches_union_find_on_mixed_graph(spark):
    # two stars, one triangle, one isolated edge
    pairs = [
        (10, 11), (10, 12), (10, 13),          # star at 10
        (20, 21), (21, 22), (22, 20),          # triangle
        (30, 31),                              # edge
        (40, 10),                              # connect 40 into star
    ]
    e = _edges(spark, pairs)
    assert _result(connected_components_twostar(e)) == _union_find(pairs)


def test_twostar_long_chain_converges_logarithmically(spark):
    # chain 0-1-2-...-63: diameter 63; label propagation needs ~63 rounds,
    # two-star needs O(log n). Assert correctness (all nodes → component 0).
    n = 64
    e = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    out = _result(connected_components_twostar(e.withColumn("a", F.col("a"))))
    assert out == {(i, 0) for i in range(n)}


def test_twostar_handles_duplicate_and_reversed_edges(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (3, 2), (5, 4)])
    out = _result(connected_components_twostar(e))
    assert out == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}


def test_pagerank_matches_dense_power_iteration(spark):
    # independent oracle: dense numpy power iteration with the same
    # dangling-redistribution formula, same iteration count
    import numpy as np

    from thesaurus_based_ner_spark.operators.graph import pagerank

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 4)]
    e = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"('n{a}', 'n{b}')" for a, b in pairs)
        + " AS t(src, dst)"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, iters=5, damping=0.85).collect()
    }

    nodes = sorted({x for p in pairs for x in p})
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    out = {v: [] for v in nodes}
    for a, b in set(pairs):
        out[a].append(b)
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(5):
        nxt = np.zeros(n)
        dmass = 0.0
        for v in nodes:
            if out[v]:
                for w in out[v]:
                    nxt[idx[w]] += r[idx[v]] / len(out[v])
            else:
                dmass += r[idx[v]]
        r = (1.0 - d) / n + d * (nxt + dmass / n)
    want = {v: round(r[idx[v]] * n, 6) for v in nodes}
    assert set(got) == {f"n{v}" for v in nodes}
    for v in nodes:
        assert abs(got[f"n{v}"] - want[v]) < 1e-6, (v, got[f"n{v}"], want[v])


def test_twostar_keeps_self_loop_only_nodes(spark):
    # a node appearing only in self-loops must still emit as a singleton
    pairs = [(7, 7), (1, 2)]
    e = _edges(spark, pairs)
    assert _result(connected_components_twostar(e)) == _union_find(
        pairs
    ) == {(1, 1), (2, 1), (7, 7)}


def test_surface_star_edges_linear_on_skewed_surface(spark):
    """A hot surface shared by S entities must emit S-1 star edges, not
    the S(S-1)/2 clique a pairwise self-join would generate — and the
    canonicalization output must be identical to clique semantics."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        canonicalize_entities,
        surface_star_edges,
    )

    rows = [(f"E{i:03d}", "USA") for i in range(200)]
    rows += [("E900", "unique1"), ("E901", "unique2")]
    # a 2-entity chain through a second surface: E000 also surfaces "United States"
    rows += [("E000", "United States"), ("E950", "united states")]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    edges = surface_star_edges(anchor)
    # USA-star: 199; united-states-star: 1 (E000 is its own hub) → 200 total
    assert edges.count() == 200
    canon = {
        (r["entity"], r["canonical"])
        for r in canonicalize_entities(anchor).collect()
    }
    assert ("E950", "E000") in canon  # chained through shared surface
    assert ("E199", "E000") in canon
    assert ("E900", "E900") in canon  # singleton maps to itself
    assert ("E901", "E901") in canon


def test_surface_star_edges_null_surfaces_do_not_merge(spark):
    """NULL/blank surfaces must emit NO edges (ADVICE r3: the window
    treats NULL as an ordinary partition key, which would star every
    dirty-anchor entity to one hub and collapse them into a single
    canonical cluster; the pre-star pairwise join was null-rejecting)."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        canonicalize_entities,
        surface_star_edges,
    )

    anchor = spark.createDataFrame(
        [
            ("E1", None),
            ("E2", None),
            ("E3", "   "),
            ("E4", "usa"),
            ("E5", "USA"),
        ],
        "entity string, surface string",
    )
    assert surface_star_edges(anchor).count() == 1  # only the USA pair
    canon = {
        (r["entity"], r["canonical"])
        for r in canonicalize_entities(anchor).collect()
    }
    # dirty-surface entities stay singleton clusters
    assert ("E1", "E1") in canon and ("E2", "E2") in canon
    assert ("E3", "E3") in canon
    assert ("E5", "E4") in canon


def test_surface_star_edges_salted_matches_unsalted(spark):
    """n_salt>1 bounds the per-task window partition to S/n_salt rows for
    a hot surface (north-rule head-key skew handling) — and must produce
    the exact same canonical components as the unsalted star, since CC is
    invariant to edge shape within a connected surface group."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        canonicalize_entities,
        surface_star_edges,
    )

    rows = [(f"E{i:03d}", "USA") for i in range(40)]
    rows += [(f"F{i:03d}", f"surf{i % 7}") for i in range(30)]
    rows += [("E000", "United States"), ("G950", "united states")]
    rows += [("H1", None), ("H2", "  ")]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    base = {
        (r["entity"], r["canonical"])
        for r in canonicalize_entities(anchor).collect()
    }
    for n_salt in (2, 4, 16):  # 16 > bucket count exercises empty buckets
        salted = {
            (r["entity"], r["canonical"])
            for r in canonicalize_entities(anchor, n_salt=n_salt).collect()
        }
        assert salted == base, n_salt
    # edge count stays linear: ≤ S-1 within-bucket + ≤ n_salt-1 hub edges
    # per surface (never S²)
    n = surface_star_edges(anchor, n_salt=4).count()
    assert n <= (40 + 3) + (30 + 7 * 3) + (2 + 3)


def test_surface_star_edges_salted_plan_shape(spark):
    """The salted star must stay join-free: two window passes (bucket star
    + hub star), no Join/CartesianProduct nodes."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        surface_star_edges,
    )

    anchor = spark.createDataFrame(
        [("E1", "a"), ("E2", "a"), ("E3", "b")],
        "entity string, surface string",
    )
    plan = (
        surface_star_edges(anchor, n_salt=8)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") >= 2


def test_descendants_bfs_fails_loud_past_max_depth(spark):
    """ADVICE r4: a hierarchy deeper than max_depth must raise, not return
    a silently truncated closure (reference get_descendants_cuis iterates
    until the frontier empties)."""
    import pytest

    from thesaurus_based_ner_spark.operators.graph import descendants_bfs

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)], "parent string, child string"
    )
    roots = spark.createDataFrame([("n0",)], "node string")
    # deep enough: converges
    ok = descendants_bfs(chain, roots, "parent", "child", max_depth=10)
    assert ok.count() == 7
    # too shallow: refuses rather than truncating
    with pytest.raises(RuntimeError, match="max_depth"):
        descendants_bfs(chain, roots, "parent", "child", max_depth=3)
    # ADVICE r5: depth EXACTLY max_depth discovers the last layer on the
    # final iteration — the closure is complete, so it must converge (the
    # chain has 6 edges: n1..n6 found across 6 frontier expansions)
    exact = descendants_bfs(chain, roots, "parent", "child", max_depth=6)
    assert exact.count() == 7


def test_choose_canonical_salt_uniform_stays_unsalted(spark):
    """No hot key -> n_salt=1: the salted star costs extra passes, so the
    heuristic must not enable it on uniform surface distributions."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        choose_canonical_salt,
    )

    rows = [(f"E{i:04d}", f"surf{i % 500}") for i in range(2000)]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    assert choose_canonical_salt(anchor, shuffle_partitions=32) == 1


def test_choose_canonical_salt_hot_key_gets_power_of_two(spark):
    """One surface holding half the rows at 32 partitions: median task
    ~= total/32, hot = total/2 = 16x median -> smallest power of two
    bringing hot/salt under 4x median is 4 (16/4 = 4x exactly)."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        _surface_skew_stats,
        choose_canonical_salt,
    )

    rows = [(f"E{i:04d}", "usa") for i in range(1000)]
    rows += [(f"F{i:04d}", f"surf{i}") for i in range(1000)]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    assert _surface_skew_stats(anchor) == (2000, 1000)
    # target = 4 * 2000/32 = 250; 1000/4 = 250 <= 250 -> salt 4
    assert choose_canonical_salt(anchor, shuffle_partitions=32) == 4


def test_choose_canonical_salt_clamps_and_normalizes(spark):
    """max_salt clamps an extreme key; normalization must mirror
    surface_star_edges (case-folded duplicates collapse, NULL/blank rows
    are excluded from the stats)."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        _surface_skew_stats,
        choose_canonical_salt,
    )

    rows = [(f"E{i:04d}", "USA" if i % 2 else "usa") for i in range(64)]
    rows += [("E9000", None), ("E9001", "  ")]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    # all 64 rows fold onto one nsurf; dirty rows don't count
    assert _surface_skew_stats(anchor) == (64, 64)
    assert (
        choose_canonical_salt(anchor, shuffle_partitions=256, max_salt=8)
        == 8
    )
    empty = anchor.filter(F.col("surface").isNull())
    assert choose_canonical_salt(empty, shuffle_partitions=256) == 1


def test_choose_canonical_salt_flags_hot_key_and_cc_is_invariant(spark):
    """The heuristic flags a genuinely hot surface, and the salt it picks
    leaves the CC output identical to the unsalted star."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        canonicalize_entities,
        choose_canonical_salt,
    )

    rows = [(f"E{i:04d}", "usa") for i in range(300)]
    rows += [(f"F{i:04d}", f"surf{i}") for i in range(100)]
    anchor = spark.createDataFrame(rows, "entity string, surface string")
    salt = choose_canonical_salt(anchor, shuffle_partitions=256)
    assert salt > 1  # 300 hot vs target 4*400/256 ~= 6.2
    unsalted = {
        (r["entity"], r["canonical"])
        for r in canonicalize_entities(anchor, n_salt=1).collect()
    }
    salted = {
        (r["entity"], r["canonical"])
        for r in canonicalize_entities(anchor, n_salt=salt).collect()
    }
    assert unsalted == salted
