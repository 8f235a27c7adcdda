"""Planar-graph kernel tests: the reference's unit-square insertion and
7-edge Steiner toy fixtures (prclz/test_topology.py:94-161,
reblock/test_i_topology.py:119-187) plus weak-dual/k-complexity checks on
hand-built cases and the Monrovia centroid fixture
(smoketests/smoketest_block_complexity.py:2-13)."""

import numpy as np
import pytest

from prclz_spark.functions.graphops import PlanarGraph


def unit_square():
    g = PlanarGraph()
    g.add_edge((0.0, 0.0), (1.0, 0.0))
    g.add_edge((1.0, 1.0), (1.0, 0.0))
    g.add_edge((1.0, 1.0), (0.0, 1.0))
    g.add_edge((0.0, 0.0), (0.0, 1.0))
    return g


def test_insert_node_to_closest_edge():
    # prclz/test_topology.py:94-110 (test 4)
    g = unit_square()
    c0 = g.add_node_to_closest_edge((-0.1, -0.1))
    # corner (0,0) is closest → snapped there, no split (node already exists)
    assert c0 == (0.0, 0.0)
    assert g.number_of_nodes() == 4
    c1 = g.add_node_to_closest_edge((0.0, 0.75))
    assert c1 == (0.0, 0.75)
    assert g.number_of_nodes() == 5
    # edge (0,0)-(0,1) was split
    assert (0.0, 0.75) in g.adj[(0.0, 0.0)] or (0.0, 0.75) in g.adj[(0.0, 1.0)]
    assert (0.0, 1.0) not in g.adj[(0.0, 0.0)]


def steiner_toy():
    # prclz/test_topology.py:112-140 (test 5): 7-edge parcel
    p0, p1, p2, p3, p4 = (0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (4.0, 2.0), (4.0, 0.0)
    g = PlanarGraph()
    for u, v in [(p0, p1), (p0, p2), (p0, p4), (p2, p4), (p3, p4), (p1, p2), (p2, p3)]:
        g.add_edge(u, v)
    buildings = [(2.0, 0.3), (1.0, 2.0), (1.5, 1.0), (5.0, 1.0), (-0.1, -0.1)]
    return g, buildings


def test_steiner_toy_parcel():
    g, buildings = steiner_toy()
    assert len(g.edges()) == 7
    for b in buildings:
        g.add_node_to_closest_edge(b, terminal=True)
    terminals = [n for n, t in g.terminal.items() if t]
    assert len(terminals) == 5
    tree = g.steiner_tree_approx()
    # tree must exist, be a subset of graph edges, and connect all terminals
    graph_edges = {frozenset(e) for e in g.edges()}
    assert tree and all(frozenset(e) in graph_edges for e in tree)
    tg = PlanarGraph()
    for u, v in tree:
        tg.add_edge(u, v)
    comps = tg.connected_components()
    assert len(comps) == 1
    assert all(t in tg.adj for t in terminals)
    # acyclic (tree): |E| = |V| - 1
    assert len(tree) == tg.number_of_nodes() - 1
    # determinism
    g2, b2 = steiner_toy()
    for b in b2:
        g2.add_node_to_closest_edge(b, terminal=True)
    assert sorted(map(sorted, g2.steiner_tree_approx())) == sorted(map(sorted, tree))


def test_trace_faces_grid():
    # 2x2 grid of unit squares → 4 inner faces, outer face dropped
    g = PlanarGraph()
    for x in range(2):
        for y in range(2):
            ring = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)]
            for i in range(4):
                g.add_edge(tuple(map(float, ring[i])), tuple(map(float, ring[(i + 1) % 4])))
    faces = g.trace_faces()
    assert len(faces) == 4
    assert all(len(f) == 4 for f in faces)


def test_weak_dual_sequence_grid():
    # 2x2 grid: dual S1 = 4 centroids in a 4-cycle; S2 of the 4-cycle has
    # one inner face → single node; S3 empty → k = 2
    g = PlanarGraph()
    for x in range(2):
        for y in range(2):
            ring = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)]
            for i in range(4):
                g.add_edge(tuple(map(float, ring[i])), tuple(map(float, ring[(i + 1) % 4])))
    d1 = g.weak_dual()
    assert d1.number_of_nodes() == 4
    assert sorted(d1.adj.keys()) == [(0.5, 0.5), (0.5, 1.5), (1.5, 0.5), (1.5, 1.5)]
    assert g.weak_dual_sequence_length() == 2


def test_single_face_dual_is_one_node():
    g = unit_square()
    d = g.weak_dual()
    assert d.number_of_nodes() == 1
    assert list(d.adj.keys()) == [(0.5, 0.5)]
    assert g.weak_dual_sequence_length() == 1


def test_simplify_degree2():
    g = PlanarGraph()
    chain = [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)]
    for a, b in zip(chain, chain[1:]):
        g.add_edge(a, b)
    g.terminal[(0.0, 0.0)] = True
    g.terminal[(3.0, 0.0)] = True
    s = g.simplify_degree2()
    assert s.number_of_nodes() == 2
    assert s.adj[(0.0, 0.0)][(3.0, 0.0)] == pytest.approx(3.0)


MONROVIA_CENTROIDS = [
    (-10.807657631535971, 6.329288657934983),
    (-10.80755130272606, 6.32928858172602),
    (-10.807606447086155, 6.3292065779863345),
    (-10.807573633245177, 6.329144862283488),
    (-10.80751955757758, 6.329202534423969),
    (-10.807502167125985, 6.329112682824976),
    (-10.80738321966457, 6.329116323838691),
    (-10.807453995275646, 6.32904112727187),
    (-10.807594232455557, 6.329374865273288),
    (-10.807471170144805, 6.32939485563032),
]


def test_monrovia_complexity_pipeline():
    """10 real building centroids (smoketest_block_complexity.py) inside a
    bounding block → Voronoi S0 → weak-dual sequence. Pins determinism and
    a plausible k for a 10-building block."""
    from prclz_spark.operators.complexity import s0_from_block

    pts = np.array(MONROVIA_CENTROIDS)
    m = 0.0002
    x0, y0 = pts[:, 0].min() - m, pts[:, 1].min() - m
    x1, y1 = pts[:, 0].max() + m, pts[:, 1].max() + m
    block = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    s0 = s0_from_block(block, MONROVIA_CENTROIDS)
    assert s0.number_of_nodes() > 10
    k = s0.weak_dual_sequence_length()
    assert 1 <= k <= 4
    # determinism across repeated builds
    k2 = s0_from_block(block, MONROVIA_CENTROIDS).weak_dual_sequence_length()
    assert k == k2


def test_voronoi_cells_contain_anchors():
    """block_cells, the one cell loop: each point's cell clipped to the
    block is one piece holding its point, and the pieces tile the block."""
    from prclz_spark.functions import geom
    from prclz_spark.operators.parcel import block_cells

    pts = [(0.2, 0.2), (0.8, 0.2), (0.5, 0.8), (0.4, 0.4), (0.9, 0.9)]
    square = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    anchors, pieces = block_cells(square, pts)
    assert len(pieces) == 5
    for (x, y), ps in zip(anchors, pieces):
        assert len(ps) == 1 and len(ps[0]) >= 3
        assert geom.point_in_polygon(x, y, ps[0])
    assert abs(sum(geom.ring_area(ps[0]) for ps in pieces) - 1.0) < 1e-12


def test_node_link_roundtrip():
    """F28 JSON graph serialization (midway_complexity.py:18-19): the
    node-link form is deterministic and round-trips weights, roads and
    terminal flags exactly."""
    import json

    import numpy as np

    from prclz_spark.functions.graphops import PlanarGraph

    g = PlanarGraph.from_polygons(
        [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]),
         np.array([[1.0, 0.0], [2.0, 0.0], [2.0, 1.0], [1.0, 1.0]])]
    )
    g.mark_road((0.0, 0.0), (1.0, 0.0))
    g.adj[(0.0, 0.0)][(1.0, 0.0)] = 0.0
    g.adj[(1.0, 0.0)][(0.0, 0.0)] = 0.0
    g.terminal[(2.0, 1.0)] = True
    data = g.to_node_link()
    s = json.dumps(data, sort_keys=True)
    g2 = PlanarGraph.from_node_link(json.loads(s))
    assert g2.to_node_link() == data
    assert sorted(map(sorted, g2.edges())) == sorted(map(sorted, g.edges()))
    assert g2.adj[(0.0, 0.0)][(1.0, 0.0)] == 0.0
    assert g2.terminal.get((2.0, 1.0)) is True
    assert frozenset(((0.0, 0.0), (1.0, 0.0))) in g2.road_edges
    # serialization is independent of construction order
    g3 = PlanarGraph()
    for u, v in reversed(g.edges()):
        g3.add_edge(u, v, g.adj[u][v])
    g3.terminal[(2.0, 1.0)] = True
    g3.mark_road((0.0, 0.0), (1.0, 0.0))
    assert g3.to_node_link() == data
