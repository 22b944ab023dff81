"""Tests for extensions.graph (PageRank)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pd_utils_spark.extensions.graph import pagerank


class TestPagerank:
    def test_matches_dense_reference(self, spark):
        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1)]
        e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
        got = {r.node: r.rank for r in pagerank(e, iters=25).collect()}
        # dense numpy twin with identical semantics
        nodes = sorted({n for p in edges for n in p})
        idx = {n: i for i, n in enumerate(nodes)}
        N, d = len(nodes), 0.85
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        r = np.full(N, 1.0 / N)
        for _ in range(25):
            nxt = np.full(N, (1 - d) / N)
            for s, t in edges:
                nxt[idx[t]] += d * r[idx[s]] / deg[s]
            r = nxt
        for n in nodes:
            assert got[n] == pytest.approx(r[idx[n]], abs=1e-12)
        # authority ordering: 3 and 1 collect the most link mass
        assert got[3] > got[2] and got[1] > got[2]

    def test_validation(self, spark):
        e = spark.createDataFrame(pd.DataFrame({"src": [1], "dst": [2]}))
        with pytest.raises(ValueError, match="damping"):
            pagerank(e, damping=1.5)
        with pytest.raises(ValueError, match="iters"):
            pagerank(e, iters=0)

    def test_reliable_checkpoint_dir_identical_result(self, spark, tmp_path):
        """The reliable-checkpoint path (eager checkpoint to a real
        directory, the cluster recommendation for multi-hour runs)
        must produce bit-identical ranks to the default localCheckpoint
        path, write checkpoint files, and restore the session
        checkpoint dir afterwards."""
        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3)]
        e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
        try:
            prev = spark.sparkContext.getCheckpointDir()
        except Exception:
            prev = None
        default = {r.node: r.rank for r in pagerank(e, iters=8).collect()}
        ckdir = str(tmp_path / "pr_ckpt")
        reliable = {
            r.node: r.rank
            for r in pagerank(e, iters=8, checkpoint_dir=ckdir).collect()
        }
        assert reliable == default
        import os

        assert any(os.scandir(ckdir))  # rounds really wrote to disk
        try:
            after = spark.sparkContext.getCheckpointDir()
        except Exception:
            after = None
        assert after == prev


class TestHits:
    def test_matches_dense_reference(self, spark):
        from pd_utils_spark.extensions.graph import hits

        edges = [(1, 3), (2, 3), (1, 4), (3, 4)]
        e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
        got = {r.node: (r.hub, r.authority) for r in hits(e, iters=15).collect()}
        nodes = [1, 2, 3, 4]
        idx = {n: i for i, n in enumerate(nodes)}
        A = np.zeros((4, 4))
        for s, t in edges:
            A[idx[s], idx[t]] = 1
        h = np.ones(4)
        for _ in range(15):
            a = A.T @ h
            a /= np.linalg.norm(a)
            h = A @ a
            h /= np.linalg.norm(h)
        for n in nodes:
            assert got[n][0] == pytest.approx(h[idx[n]], abs=1e-9)
            assert got[n][1] == pytest.approx(a[idx[n]], abs=1e-9)
        # the hub/authority separation: 1 is the top hub, 4 pure authority
        assert got[1][0] > got[2][0] > got[4][0]
        assert got[4][1] > got[1][1]

    def test_hits_scores_unit_norm(self, spark):
        from pd_utils_spark.extensions.graph import hits

        e = spark.createDataFrame(
            pd.DataFrame({"src": [1, 2, 3, 4, 1], "dst": [2, 3, 4, 1, 3]})
        )
        rows = hits(e, iters=6).collect()
        hub_ss = sum(r.hub**2 for r in rows)
        auth_ss = sum(r.authority**2 for r in rows)
        assert hub_ss == pytest.approx(1.0, abs=1e-9)
        assert auth_ss == pytest.approx(1.0, abs=1e-9)

    def test_hits_validation(self, spark):
        from pd_utils_spark.extensions.graph import hits

        e = spark.createDataFrame(pd.DataFrame({"src": [1], "dst": [2]}))
        with pytest.raises(ValueError, match="iters"):
            hits(e, iters=0)


class TestTriangleCount:
    def test_k4_plus_pendant(self, spark):
        from pd_utils_spark.extensions.graph import triangle_count

        # K4 on {1..4}: every node in C(3,2)=3 triangles; 5 pendant -> 0.
        # Edge list mixes directions and repeats to prove canonicalization.
        edges = spark.createDataFrame(
            pd.DataFrame(
                {
                    "src": [1, 1, 1, 2, 2, 3, 4, 4, 2],
                    "dst": [2, 3, 4, 3, 4, 4, 5, 1, 1],
                }
            )
        )
        got = {r.node: r.triangles for r in triangle_count(edges).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}

    def test_triangle_free_and_self_loops(self, spark):
        from pd_utils_spark.extensions.graph import triangle_count

        # 4-cycle plus a self-loop: no triangles anywhere
        edges = spark.createDataFrame(
            pd.DataFrame({"src": [1, 2, 3, 4, 2], "dst": [2, 3, 4, 1, 2]})
        )
        got = {r.node: r.triangles for r in triangle_count(edges).collect()}
        assert got == {1: 0, 2: 0, 3: 0, 4: 0}


# ----------------------------------------------------- bfs_levels

def _bfs_ref(edges, sources, max_depth):
    import collections

    adj = collections.defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    level = {s: 0 for s in sources}
    frontier = set(sources)
    for depth in range(1, max_depth + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in level:
                    nxt.add(v)
        for v in nxt:
            level[v] = depth
        frontier = nxt
    return level


def test_bfs_levels_matches_reference(spark):
    from pd_utils_spark.extensions.graph import bfs_levels

    import random

    rng = random.Random(5)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    srcs = spark.createDataFrame([(0,), (7,)], ["node"])
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(e, srcs, max_depth=6).collect()
    }
    assert got == _bfs_ref(edges, [0, 7], 6)


def test_bfs_levels_early_stop_and_depth_cap(spark):
    from pd_utils_spark.extensions.graph import bfs_levels

    # a 5-node path graph: depth cap cuts the tail, early stop ends
    # cleanly once the frontier drains
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    srcs = spark.createDataFrame([(0,)], ["node"])
    capped = {
        r["node"]: r["level"]
        for r in bfs_levels(e, srcs, max_depth=2).collect()
    }
    assert capped == {0: 0, 1: 1, 2: 2}
    full = {
        r["node"]: r["level"]
        for r in bfs_levels(e, srcs, max_depth=50).collect()
    }
    assert full == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    # min-level semantics on a diamond with a shortcut
    e2 = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], ["src", "dst"]
    )
    d = {
        r["node"]: r["level"]
        for r in bfs_levels(e2, srcs, max_depth=5).collect()
    }
    assert d == {0: 0, 1: 1, 2: 1}


# ----------------------------------------------------- label_propagation

def _lpa_ref(edges, iters):
    import collections

    nodes = sorted({x for e in edges for x in e})
    inn = collections.defaultdict(list)
    for s, d in edges:
        inn[d].append(s)
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            if not inn[n]:
                new[n] = lab[n]
                continue
            cnt = collections.Counter(lab[s] for s in inn[n])
            best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[n] = best
        lab = new
    return lab


def test_label_propagation_matches_reference(spark):
    import random

    from pd_utils_spark.extensions.graph import label_propagation

    rng = random.Random(9)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(70)})
    e = spark.createDataFrame(edges, ["src", "dst"])
    for iters in (0, 1, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(e, iters=iters).collect()
        }
        assert got == _lpa_ref(edges, iters), f"iters={iters}"


def test_label_propagation_two_cliques_separate(spark):
    from pd_utils_spark.extensions.graph import label_propagation

    # two directed triangles with no cross edges -> two communities
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    e = spark.createDataFrame(tri1 + tri2, ["src", "dst"])
    got = {
        r["node"]: r["label"]
        for r in label_propagation(e, iters=6).collect()
    }
    assert len({got[0], got[1], got[2]} & {got[10], got[11], got[12]}) == 0


# ------------------------------------ clustering_coefficient / k_core

class TestClusteringCoefficient:
    def test_k4_plus_pendant(self, spark):
        from pd_utils_spark.extensions.graph import clustering_coefficient

        # K4 on {1..4}: deg 3, 3 triangles -> cc = 2*3/(3*2) = 1.0.
        # Node 5 hangs off 4: deg(4) becomes 4, still 3 triangles ->
        # cc(4) = 6/12 = 0.5; pendant 5 has deg 1 -> 0.0 by convention.
        edges = spark.createDataFrame(
            pd.DataFrame(
                {
                    "src": [1, 1, 1, 2, 2, 3, 4],
                    "dst": [2, 3, 4, 3, 4, 4, 5],
                }
            )
        )
        got = {
            r.node: (r.degree, r.triangles, r.coefficient)
            for r in clustering_coefficient(edges).collect()
        }
        assert got == {
            1: (3, 3, 1.0),
            2: (3, 3, 1.0),
            3: (3, 3, 1.0),
            4: (4, 3, 0.5),
            5: (1, 0, 0.0),
        }

    def test_bounds_random_graph(self, spark):
        from pd_utils_spark.extensions.graph import clustering_coefficient

        # deterministic pseudo-random graph: coefficient always in [0, 1]
        rows = [((i * 7) % 23, (i * 13 + 5) % 23) for i in range(60)]
        e = spark.createDataFrame(
            [r for r in rows if r[0] != r[1]], ["src", "dst"]
        )
        for r in clustering_coefficient(e).collect():
            assert 0.0 <= r.coefficient <= 1.0
            assert r.degree >= 1


class TestKCore:
    @staticmethod
    def _peel_ref(edges, k):
        E = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg = {}
            for a, b in E:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            E2 = {(a, b) for a, b in E if a in keep and b in keep}
            if E2 == E:
                return deg if E else {}
            E = E2

    def test_k4_with_tail(self, spark):
        from pd_utils_spark.extensions.graph import k_core

        # K4 plus a path 4-5-6: 3-core is exactly the K4 (all deg 3)
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (5, 6)]
        e = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r.core_degree for r in k_core(e, k=3).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_empty_core(self, spark):
        from pd_utils_spark.extensions.graph import k_core

        # a tree has no 2-core
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (2, 4), (4, 5)], ["src", "dst"]
        )
        assert k_core(e, k=2).count() == 0

    def test_matches_reference_and_internal_degree(self, spark):
        from pd_utils_spark.extensions.graph import k_core

        rows = [((i * 7) % 23, (i * 13 + 5) % 23) for i in range(60)]
        edges = [r for r in rows if r[0] != r[1]]
        e = spark.createDataFrame(edges, ["src", "dst"])
        for k in (2, 3, 4):
            ref = self._peel_ref(edges, k)
            ref = {n: d for n, d in ref.items() if d >= k} if ref else {}
            got = {
                r.node: r.core_degree for r in k_core(e, k=k).collect()
            }
            assert got == ref, f"k={k}"
            # every survivor's degree inside the core is >= k
            assert all(d >= k for d in got.values())

    def test_validation(self, spark):
        from pd_utils_spark.extensions.graph import k_core

        e = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="k must be"):
            k_core(e, k=0)


def test_iterative_operator_persists_release_by_label(spark):
    """The frames the iterative operators keep pinned for their rounds
    are reuse pins of the caller's query scope, released on exit
    without holding any frame reference."""
    from pd_utils_spark.extensions.graph import bfs_levels, pagerank
    from pd_utils_spark.utils import query_scope

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
    )
    srcs = spark.createDataFrame([(1,)], ["node"])
    with query_scope() as pins:
        bfs_levels(edges, srcs, max_depth=3).count()
    assert len(pins) == 1
    with query_scope() as pins:
        pagerank(edges, iters=2).count()
    # uniform: nodes + contrib_edges only (the literal restart column
    # rides the cached node frame — no third pin)
    assert len(pins) == 2
    with query_scope() as pins:
        pagerank(edges, iters=2, sources=[1]).count()
    # personalized: + the join-derived restart-vector frame
    assert len(pins) == 3
    assert not any(f.storageLevel.useMemory for f in pins)


# ------------------------------------------------------------ link_prediction


def _lp_edges(spark):
    # triangle {1,2,3} plus a tail 3-4-5
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )


def test_link_prediction_hand_computed(spark):
    import math

    from pd_utils_spark.extensions.graph import link_prediction

    out = {
        (r["a"], r["b"]): r
        for r in link_prediction(_lp_edges(spark)).collect()
    }
    # distance-2 non-edges only: (1,4),(2,4) via center 3; (3,5) via 4
    assert set(out) == {(1, 4), (2, 4), (3, 5)}
    r14 = out[(1, 4)]
    assert r14["common_neighbors"] == 1
    assert abs(r14["adamic_adar"] - 1 / math.log(3)) < 1e-12
    assert abs(r14["jaccard"] - 1 / 3) < 1e-12
    assert r14["pref_attach"] == 4  # deg(1)=2 * deg(4)=2
    r35 = out[(3, 5)]
    assert abs(r35["adamic_adar"] - 1 / math.log(2)) < 1e-12
    assert abs(r35["jaccard"] - 1 / 3) < 1e-12  # 1/(3+1-1)
    assert r35["pref_attach"] == 3


def test_link_prediction_include_existing(spark):
    from pd_utils_spark.extensions.graph import link_prediction

    out = {
        (r["a"], r["b"]): r["common_neighbors"]
        for r in link_prediction(_lp_edges(spark), include_existing=True).collect()
    }
    # the triangle's own edges each share exactly one neighbor
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(2, 3)] == 1
    assert set(out) == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 5)}


def test_link_prediction_center_degree_cap(spark):
    from pd_utils_spark.extensions.graph import link_prediction

    out = {
        (r["a"], r["b"]): r
        for r in link_prediction(_lp_edges(spark), max_center_degree=2).collect()
    }
    # center 3 (deg 3) is dropped: its wedges (1,4),(2,4) vanish;
    # (3,5) survives via center 4 (deg 2) and keeps EXACT endpoint
    # degrees (deg(3)=3 uncapped in jaccard/pref_attach)
    assert set(out) == {(3, 5)}
    assert out[(3, 5)]["pref_attach"] == 3


def test_link_prediction_direction_and_dups_ignored(spark):
    from pd_utils_spark.extensions.graph import link_prediction

    doubled = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (3, 1), (4, 3), (5, 4), (5, 4)],
        ["src", "dst"],
    )
    a = {(r["a"], r["b"]): tuple(r) for r in link_prediction(doubled).collect()}
    b = {
        (r["a"], r["b"]): tuple(r)
        for r in link_prediction(_lp_edges(spark)).collect()
    }
    assert a == b


# --------------------------------------------------------- personalized PPR


def test_personalized_pagerank_sums_to_one_and_seeds_dominate(spark):
    from pd_utils_spark.extensions.graph import pagerank

    # directed cycle 0->1->2->3->0 plus a chain 3->4->5
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (3, 4), (4, 5)], ["src", "dst"]
    )
    ppr = {r.node: r.rank for r in pagerank(e, iters=40, sources=[0]).collect()}
    # probability mass conservation: dangling node 5 keeps mass
    # undistributed (the documented simple variant), so total <= 1
    assert sum(ppr.values()) <= 1.0 + 1e-9
    # seed gets the teleport mass: strictly the max
    assert ppr[0] == max(ppr.values())
    # farther from the seed along the chain = strictly smaller rank
    assert ppr[4] > ppr[5]

def test_personalized_matches_hand_rolled_two_iters(spark):
    import itertools

    from pd_utils_spark.extensions.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 2)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    d = 0.85
    p = {0: 1.0, 1: 0.0, 2: 0.0}
    deg = {0: 2, 1: 1, 2: 1}
    r = dict(p)
    for _ in range(2):
        nxt = {}
        for v in p:
            s = sum(r[u] / deg[u] for u, w in edges if w == v)
            nxt[v] = (1 - d) * p[v] + d * s
        r = nxt
    got = {
        row.node: row.rank
        for row in pagerank(e, iters=2, sources=[0]).collect()
    }
    for v in p:
        assert abs(got[v] - r[v]) < 1e-12

def test_personalized_uniform_sources_equals_default(spark):
    from pd_utils_spark.extensions.graph import pagerank

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    a = {r.node: r.rank for r in pagerank(e, iters=5).collect()}
    b = {
        r.node: r.rank
        for r in pagerank(e, iters=5, sources=[0, 1, 2]).collect()
    }
    assert all(abs(a[n] - b[n]) < 1e-12 for n in a)

def test_personalized_absent_sources_raise_and_df_sources_work(spark):
    import pytest as _pytest

    from pd_utils_spark.extensions.graph import pagerank

    e = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    with _pytest.raises(ValueError, match="no source node"):
        pagerank(e, iters=2, sources=[99])
    sdf = spark.createDataFrame([(0,), (99,)], ["seed"])
    # EVEN iteration count: a 2-cycle's mass oscillates between the
    # nodes each step, so odd counts park most mass on the non-seed
    got = {r.node: r.rank for r in pagerank(e, iters=4, sources=sdf).collect()}
    # absent seed 99 ignored; p concentrates on node 0
    assert got[0] > got[1]
