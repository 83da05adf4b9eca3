"""The iterative graph operators run no driver action inside their loops.

Every fixpoint reads its convergence test (a round signature, a moved
flag, a delta count, PageRank's dangling mass) from an aggregate observed
on the round's own checkpoint job. These tests count DataFrame.collect
calls while each operator runs, and check the results against plain
Python references so the observed values are also the right ones.
"""

from __future__ import annotations

import pytest

from thesaurus_based_ner_spark.operators.graph import (
    ancestor_closure,
    connected_components_twostar,
    descendants_bfs,
    pagerank,
    resolve_chains,
)
from thesaurus_based_ner_spark.operators.thesaurus import expand_disambiguation


@pytest.fixture
def collects(spark, monkeypatch):
    """A list that gets one entry per DataFrame.collect call."""
    calls = []
    # patch the CONCRETE DataFrame class (pyspark 4's classic subclass
    # overrides base-class methods, so patching pyspark.sql.DataFrame
    # would be shadowed)
    cls = type(spark.range(1))
    original = cls.collect

    def counted(self):
        calls.append(self)
        return original(self)

    monkeypatch.setattr(cls, "collect", counted)
    return calls


def _pairs(spark, rows, cols=("a", "b"), typ="int"):
    body = ", ".join(
        "(" + ", ".join(f"CAST(NULL AS {typ})" if x is None else repr(x) for x in r) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({', '.join(cols)})")


def _run(calls, fn, *args, **kwargs):
    """fn(*args) with its collect calls counted; the result's rows are
    read after the count is taken."""
    before = len(calls)
    out = fn(*args, **kwargs)
    return len(calls) - before, out


def test_twostar_runs_no_collect(spark, collects):
    pairs = [(10, 11), (10, 12), (20, 21), (21, 22), (22, 20), (40, 10), (30, 31)]
    n, out = _run(collects, connected_components_twostar, _pairs(spark, pairs))
    assert n == 0
    assert {tuple(r) for r in out.collect()} == {
        (10, 10), (11, 10), (12, 10), (40, 10),
        (20, 20), (21, 20), (22, 20), (30, 30), (31, 30),
    }


def test_twostar_null_endpoint_and_self_loop_node(spark, collects):
    """A NULL endpoint drops its edge, and the NULL and the other endpoint
    each come out as their own root; a node seen only in a self-loop is
    its own root."""
    pairs = [(1, None), (None, 6), (6, 7), (2, 2), (3, 4)]
    n, out = _run(collects, connected_components_twostar, _pairs(spark, pairs))
    assert n == 0
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(
        [(1, 1), (None, None), (6, 6), (7, 6), (2, 2), (3, 3), (4, 3)], key=repr
    )


def test_resolve_chains_runs_no_collect(spark, collects):
    edges = _pairs(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ("src", "dst"), "string"
    )
    n, out = _run(collects, resolve_chains, edges)
    assert n == 0
    assert {tuple(r) for r in out.collect()} == {
        ("a", "d"), ("b", "d"), ("c", "d"), ("x", "y"),
    }


def test_ancestor_closure_runs_no_collect(spark, collects):
    edges = _pairs(
        spark, [(1, 2), (2, 3), (3, 4), (5, 3)], ("child", "parent")
    )
    n, out = _run(collects, ancestor_closure, edges, include_self=False)
    assert n == 0
    assert {tuple(r) for r in out.collect()} == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 3), (5, 4),
    }


def test_ancestor_closure_truncation_still_raises(spark, collects):
    edges = _pairs(spark, [(i, i + 1) for i in range(6)], ("child", "parent"))
    with pytest.raises(RuntimeError, match="max_depth"):
        ancestor_closure(edges, max_depth=2)
    assert not collects


def test_descendants_bfs_runs_no_collect(spark, collects):
    edges = _pairs(
        spark, [(1, 2), (1, 3), (3, 4), (4, 5), (9, 10)], ("cui1", "cui2")
    )
    roots = spark.sql("SELECT 1 AS node")
    n, out = _run(collects, descendants_bfs, edges, roots)
    assert n == 0
    assert {r.node for r in out.collect()} == {1, 2, 3, 4, 5}


def _disambiguation_reference(t2e, disamb):
    """Every (term, entity) reachable through disamb, minus the srcs."""
    nxt = {}
    for s, d in disamb:
        nxt.setdefault(s, set()).add(d)
    out = set()
    for term, ent in t2e:
        seen, todo = {ent}, [ent]
        while todo:
            for d in nxt.get(todo.pop(), ()):
                if d not in seen:
                    seen.add(d)
                    todo.append(d)
        out |= {(term, x) for x in seen if x not in nxt}
    return out


@pytest.mark.parametrize(
    "t2e, disamb",
    [
        # a chain of pages, and a term whose entity is no page
        (
            [("m", "M"), ("g", "G")],
            [("M", "M1"), ("M", "M2"), ("M2", "M3"), ("M2", "M4")],
        ),
        # A <-> B is a cycle with one leaf C; D <-> E is a cycle with none
        (
            [("t1", "A"), ("t2", "D"), ("t3", "Z"), ("t4", "B")],
            [("A", "B"), ("B", "A"), ("B", "C"), ("D", "E"), ("E", "D")],
        ),
    ],
    ids=["chain", "cycle"],
)
def test_expand_disambiguation_runs_no_collect(spark, collects, t2e, disamb):
    n, out = _run(
        collects,
        expand_disambiguation,
        _pairs(spark, t2e, ("term", "entity"), "string"),
        _pairs(spark, disamb, ("src", "dst"), "string"),
    )
    assert n == 0
    rows = [tuple(r) for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == _disambiguation_reference(t2e, disamb)


def _pagerank_reference(edges, iters, damping):
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {u: [v for s, v in edges if s == u] for u in nodes}
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        dmass = sum(rank[u] for u in nodes if not out[u])
        nxt = {u: (1.0 - damping) / n + damping * dmass / n for u in nodes}
        for u in nodes:
            for v in out[u]:
                nxt[v] += damping * rank[u] / len(out[u])
        rank = nxt
    return {u: rank[u] * n for u in nodes}


def test_pagerank_runs_no_collect(spark, collects):
    # node 4 is dangling: its mass is spread over every node each round
    pairs = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (5, 1)]
    edges = _pairs(spark, pairs, ("src", "dst"))
    n, out = _run(collects, pagerank, edges, iters=5, damping=0.85)
    assert n == 0
    got = {r.node: r.rank for r in out.collect()}
    want = _pagerank_reference(pairs, 5, 0.85)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-6)
