"""Per-block planar-graph kernels: face tracing, weak dual, k-complexity,
Dijkstra/MST Steiner approximation.

Replaces the reference's ``PlanarGraph(nx.Graph)``
(/root/reference/prclz/topology.py:277-606) and its igraph port
(reblock/i_topology.py). Graphs are per-block and small (10–10^3 nodes), so
a whole graph lives inside one ``applyInPandas`` group (SURVEY.md §1.1);
nothing here touches Spark. Unlike the reference, every structure is
insertion-ordered (dicts, not hash sets) so results are deterministic
across partitionings and parallelism levels — a north_rule requirement the
reference does not meet (its set.pop() trace order is interpreter-level
nondeterministic).
"""

from __future__ import annotations

import heapq
from itertools import combinations

import numpy as np

from .geom import ring_centroid

Coord = tuple[float, float]


class PlanarGraph:
    """Undirected planar graph; node identity = (x, y) tuple (the
    reference's Node.__eq__/__hash__ on coordinates, topology.py:43-55)."""

    def __init__(self) -> None:
        # node -> {neighbor: weight}; dicts keep insertion order
        self.adj: dict[Coord, dict[Coord, float]] = {}
        self.terminal: dict[Coord, bool] = {}
        self.road_edges: set[frozenset] = set()

    # -- construction -----------------------------------------------------
    def add_node(self, n: Coord) -> None:
        if n not in self.adj:
            self.adj[n] = {}

    def add_edge(self, u: Coord, v: Coord, weight: float | None = None) -> None:
        if u == v:
            return
        self.add_node(u)
        self.add_node(v)
        w = weight if weight is not None else float(np.hypot(u[0] - v[0], u[1] - v[1]))
        self.adj[u][v] = w
        self.adj[v][u] = w

    @staticmethod
    def from_polygons(rings: list[np.ndarray]) -> "PlanarGraph":
        """PlanarGraph.from_polygons (topology.py:294-316): union of all
        polygon boundary edges, nodes deduped by coordinate."""
        g = PlanarGraph()
        for ring in rings:
            r = ring
            if len(r) >= 2 and np.array_equal(r[0], r[-1]):
                r = r[:-1]
            n = len(r)
            for i in range(n):
                u = (float(r[i][0]), float(r[i][1]))
                v = (float(r[(i + 1) % n][0]), float(r[(i + 1) % n][1]))
                g.add_edge(u, v)
        return g

    # -- basic queries ----------------------------------------------------
    def number_of_nodes(self) -> int:
        return len(self.adj)

    def edges(self) -> list[tuple[Coord, Coord]]:
        out, seen = [], set()
        for u, nbrs in self.adj.items():
            for v in nbrs:
                key = frozenset((u, v))
                if key not in seen:
                    seen.add(key)
                    out.append((u, v))
        return out

    def mark_road(self, u: Coord, v: Coord) -> None:
        self.road_edges.add(frozenset((u, v)))

    # -- JSON serialization (F28: midway_complexity.py:18-19) --------------
    def to_node_link(self) -> dict:
        """node-link serialization (the reference persists weak duals as
        ``json_graph.node_link_data`` JSON): nodes in canonical
        lexicographic order, links as (source-index, target-index, weight,
        road) with source < target — deterministic, round-trippable, and
        `json.dumps`-able as a DataFrame string column."""
        order = sorted(self.adj)
        idx = {n: i for i, n in enumerate(order)}
        links = sorted(
            {
                (min(idx[u], idx[v]), max(idx[u], idx[v]),
                 self.adj[u][v], frozenset((u, v)) in self.road_edges)
                for u, v in self.edges()
            }
        )
        return {
            "nodes": [
                {"x": n[0], "y": n[1], "terminal": bool(self.terminal.get(n, False))}
                for n in order
            ],
            "links": [
                {"source": s, "target": t, "weight": w, "road": r}
                for s, t, w, r in links
            ],
        }

    @staticmethod
    def from_node_link(data: dict) -> "PlanarGraph":
        g = PlanarGraph()
        coords = [(float(n["x"]), float(n["y"])) for n in data["nodes"]]
        for n, c in zip(data["nodes"], coords):
            g.add_node(c)
            if n.get("terminal"):
                g.terminal[c] = True
        for e in data["links"]:
            u, v = coords[e["source"]], coords[e["target"]]
            g.add_edge(u, v, float(e["weight"]))
            if e.get("road"):
                g.mark_road(u, v)
        return g

    # -- embedding + face tracing (topology.py:408-458) -------------------
    def _embedding(self) -> dict[Coord, list[Coord]]:
        # reference sorts neighbors by arctan2(dx, dy) — x argument FIRST
        # (topology.py:409-417); replicated verbatim for face parity.
        # math.atan2 == np.arctan2 bit-for-bit on scalars, ~10x faster.
        from math import atan2

        return {
            node: sorted(
                nbrs.keys(),
                key=lambda nb: atan2(nb[0] - node[0], nb[1] - node[1]),
            )
            for node, nbrs in self.adj.items()
        }

    def trace_faces(self) -> list[list[Coord]]:
        """Inner faces as vertex cycles (SAGE algorithm, topology.py:419-458).
        Deterministic: directed edges are consumed in insertion order.

        Outer-face drop: by ORIENTATION, not the reference's max-edge-count
        heuristic (topology.py:448-451). Under this embedding's rotation
        (counterclockwise neighbor order) every bounded face traces with
        positive shoelace area and each component's unbounded walk traces
        negative — whereas an inner face can easily carry MORE edges than
        the convex outer walk (a square with an 8-chord arc inside:
        complement face = 12 edges, outer = 6; the edge-count rule dropped
        the complement and kept the full square as a phantom block —
        caught by tests/test_buffered_difference.py's curved family)."""
        if self.number_of_nodes() < 2:
            return []
        embedding = self._embedding()
        edgeset: dict[tuple[Coord, Coord], None] = {}
        for u, v in self.edges():
            edgeset[(u, v)] = None
            edgeset[(v, u)] = None

        faces: list[list[tuple[Coord, Coord]]] = []
        first = next(iter(edgeset))
        del edgeset[first]
        face = [first]
        while edgeset:
            neighbors = embedding[face[-1][-1]]
            next_node = neighbors[
                (neighbors.index(face[-1][-2]) + 1) % len(neighbors)
            ]
            candidate = (face[-1][-1], next_node)
            if candidate == face[0]:
                faces.append(face)
                nxt = next(iter(edgeset))
                del edgeset[nxt]
                face = [nxt]
            else:
                face.append(candidate)
                del edgeset[candidate]
        if face:
            faces.append(face)

        # keep positively-oriented walks only (bounded faces); each
        # component's outer walk comes out negative, degenerate collinear
        # walks come out zero — both dropped
        inner = []
        for f in faces:
            sa = 0.0
            for (ux, uy), (vx, vy) in f:
                sa += ux * vy - vx * uy
            if sa > 0.0:
                inner.append(f)
        return [[e[0] for e in f] for f in inner]

    # -- weak dual (topology.py:483-502) ----------------------------------
    def weak_dual(self) -> "PlanarGraph":
        """Faces adjacent iff they share a non-road edge → dual edge between
        shoelace centroids. The reference's second adjacency clause
        (1-D touching intersection, topology.py:499) is provably inert for
        segment pairs — `touches` excludes interior overlap, so a non-Point
        touching intersection of two segments cannot exist — hence only the
        shared-edge test is implemented. Single inner face → single dual
        node (topology.py:469-470 analog in _weak_dual)."""
        dual = PlanarGraph()
        if self.number_of_nodes() < 2:
            return dual
        faces = self.trace_faces()
        if not faces:
            return dual
        centroids = [self._face_centroid(f) for f in faces]
        if len(faces) == 1:
            dual.add_node(centroids[0])
            return dual
        edge_to_faces: dict[frozenset, list[int]] = {}
        for fi, f in enumerate(faces):
            n = len(f)
            for i in range(n):
                e = frozenset((f[i], f[(i + 1) % n]))
                if e in self.road_edges:
                    continue
                edge_to_faces.setdefault(e, []).append(fi)
        for fis in edge_to_faces.values():
            for a, b in combinations(sorted(set(fis)), 2):
                dual.add_edge(centroids[a], centroids[b])
        # faces with no dual edge still had a shared-edge test run in the
        # reference but produced no node; replicate (no isolated nodes).
        return dual

    @staticmethod
    def _face_centroid(face: list[Coord]) -> Coord:
        ring = np.asarray(face, dtype=float)
        cx, cy = ring_centroid(ring)
        return (cx, cy)

    # -- weak-dual sequence / k-complexity (complexity.py:52-63) ----------
    def weak_dual_sequence_length(self, max_k: int = 100) -> int:
        """k = number of successive weak duals until the graph is empty,
        minus nothing: get_weak_dual_sequence keeps graphs while
        number_of_nodes() > 0 then pops the empty one; complexity =
        len(sequence) - 1."""
        seq = 1
        g = self
        while seq <= max_k:
            d = g.weak_dual()
            if d.number_of_nodes() == 0:
                break
            seq += 1
            g = d
        return seq - 1

    # -- nearest-edge insertion (topology.py:504-534) ---------------------
    def add_node_to_closest_edge(self, p: Coord, terminal: bool = False) -> Coord:
        from .geom import seg_point_distance

        edge_list = [e for e in self.edges() if e[0] != e[1]]
        segs = np.asarray(edge_list, dtype=float)  # (m,2,2)
        d, cx, cy = seg_point_distance(
            segs[:, 0, 0], segs[:, 0, 1], segs[:, 1, 0], segs[:, 1, 1],
            np.full(len(segs), p[0]), np.full(len(segs), p[1]),
        )
        i = int(np.argmin(d))
        closest = (float(cx[i]), float(cy[i]))
        u, v = edge_list[i]
        self.split_edge_by_node(u, v, closest)
        if terminal:
            self.terminal[closest] = True
        return closest

    def add_nodes_to_closest_edges(
        self, pts: np.ndarray, terminal: bool = True
    ) -> list[Coord]:
        """Batch J10 insert: snap every point onto its nearest edge in ONE
        vectorized pass. Geometrically equivalent to repeated
        add_node_to_closest_edge because every split node lies ON its host
        segment — the union of post-split subsegments equals the original
        segment set, so each point's closest point against the original
        edges equals its closest point against the evolving graph. Each
        host edge is then split once into the chain of its assigned
        projections ordered along the segment (the sequential insert
        performs exactly these splits one at a time). O(k·m) vectorized
        instead of k sequential O(m) edge-list rebuilds."""
        from .geom import seg_point_distance

        pts = np.asarray(pts, dtype=float).reshape(-1, 2)
        if len(pts) == 0:
            return []
        edge_list = [e for e in self.edges() if e[0] != e[1]]
        segs = np.asarray(edge_list, dtype=float)  # (m,2,2)
        ax, ay = segs[:, 0, 0], segs[:, 0, 1]
        bx, by = segs[:, 1, 0], segs[:, 1, 1]
        by_edge: dict[int, list[tuple[float, Coord]]] = {}
        out: list[Coord] = []
        for p in pts:
            d, cx, cy = seg_point_distance(
                ax, ay, bx, by, np.full(len(segs), p[0]), np.full(len(segs), p[1])
            )
            i = int(np.argmin(d))
            node = (float(cx[i]), float(cy[i]))
            t = float(np.hypot(node[0] - ax[i], node[1] - ay[i]))
            by_edge.setdefault(i, []).append((t, node))
            out.append(node)
        for ei, items in by_edge.items():
            u, v = edge_list[ei]
            items.sort()
            chain = [u]
            for _, node in items:
                if node != u and node != v and node != chain[-1]:
                    chain.append(node)
            chain.append(v)
            if len(chain) > 2:
                was_road = frozenset((u, v)) in self.road_edges
                del self.adj[u][v]
                del self.adj[v][u]
                if was_road:
                    self.road_edges.discard(frozenset((u, v)))
                for a, b in zip(chain, chain[1:]):
                    self.add_edge(a, b)
                    if was_road:
                        self.mark_road(a, b)
        if terminal:
            for node in out:
                self.terminal[node] = True
        return out

    def split_edge_by_node(self, u: Coord, v: Coord, n: Coord) -> None:
        """topology.py:388-406 — no-op (flag copy) when n coincides with an
        endpoint; else replace (u,v) with (u,n),(n,v)."""
        if n == u or n == v:
            return
        del self.adj[u][v]
        del self.adj[v][u]
        was_road = frozenset((u, v)) in self.road_edges
        self.add_edge(u, n)
        self.add_edge(n, v)
        if was_road:
            self.road_edges.discard(frozenset((u, v)))
            self.mark_road(u, n)
            self.mark_road(n, v)

    # -- shortest paths / Steiner (reblock/steiner_tree.py:69-95) ---------
    def dijkstra(
        self, src: Coord, targets: set[Coord] | None = None
    ) -> tuple[dict[Coord, float], dict[Coord, Coord]]:
        """Single-source shortest paths; with ``targets`` the search stops
        once every target is settled (settled distances/paths are final,
        so the early exit is exact). Used by ``shortest_path`` for bounded
        point-to-point walks (e.g. the boundary relabel); the Steiner
        metric closure runs its own integer-indexed variant."""
        dist = {src: 0.0}
        prev: dict[Coord, Coord] = {}
        pq: list[tuple[float, Coord]] = [(0.0, src)]
        done: set[Coord] = set()
        remaining = set(targets) - {src} if targets is not None else None
        while pq:
            d, u = heapq.heappop(pq)
            if u in done:
                continue
            done.add(u)
            if remaining is not None:
                remaining.discard(u)
                if not remaining:
                    break
            for v, w in self.adj[u].items():
                nd = d + w
                if v not in dist or nd < dist[v] - 1e-15:
                    dist[v] = nd
                    prev[v] = u
                    heapq.heappush(pq, (nd, v))
        return dist, prev

    def shortest_path(self, u: Coord, v: Coord) -> tuple[float, list[Coord]]:
        dist, prev = self.dijkstra(u, targets={v})
        if v not in dist:
            return float("inf"), []
        path = [v]
        while path[-1] != u:
            path.append(prev[path[-1]])
        return dist[v], path[::-1]

    def connected_components(self) -> list[list[Coord]]:
        seen: set[Coord] = set()
        comps = []
        for start in self.adj:
            if start in seen:
                continue
            comp, stack = [], [start]
            seen.add(start)
            while stack:
                u = stack.pop()
                comp.append(u)
                for v in self.adj[u]:
                    if v not in seen:
                        seen.add(v)
                        stack.append(v)
            comps.append(comp)
        return comps

    def largest_component_subgraph(self) -> "PlanarGraph":
        """reblock/i_reblock.py:41-54: keep only the largest component
        (np.argmax ⇒ first max wins; our component order is insertion order
        of the first-discovered node, deterministic)."""
        comps = self.connected_components()
        if not comps:
            return self
        sizes = [len(c) for c in comps]
        keep = set(comps[int(np.argmax(sizes))])
        sub = PlanarGraph()
        for u, v in self.edges():
            if u in keep and v in keep:
                sub.add_edge(u, v, self.adj[u][v])
                if frozenset((u, v)) in self.road_edges:
                    sub.mark_road(u, v)
        for n, t in self.terminal.items():
            if n in keep:
                sub.terminal[n] = t
        return sub

    def steiner_tree_approx(self) -> list[tuple[Coord, Coord]]:
        """coopers_steiner_tree (reblock/steiner_tree.py:69-95): metric
        closure over terminal pairs (Dijkstra), MST of the closure (Kruskal,
        ties broken by (distance, u, v) lexicographic — SURVEY.md §7.4
        determinism pin), union of the MST edges' underlying paths.

        Runs on an integer-indexed view of the graph (array dist/prev/done
        instead of tuple-keyed dicts — the metric closure is t Dijkstras
        and dominates the kernel). Nodes are numbered in lexicographic
        coordinate order, so heap ties on (dist, index) break exactly as
        the tuple-keyed version's (dist, coord) did — bit-identical
        output."""
        terminals = [n for n, t in self.terminal.items() if t]
        if len(terminals) < 2:
            return []
        order = sorted(self.adj)  # index order == coord lexicographic order
        idx = {n: i for i, n in enumerate(order)}
        nn = len(order)
        nbrs: list[list[int]] = [[] for _ in range(nn)]
        wts: list[list[float]] = [[] for _ in range(nn)]
        for n, nb in self.adj.items():
            i = idx[n]
            for v, w in nb.items():
                nbrs[i].append(idx[v])
                wts[i].append(w)
        t_idx = [idx[t] for t in terminals]
        t_mask = bytearray(nn)
        for i in t_idx:
            t_mask[i] = 1
        INF = float("inf")

        def dij(src: int) -> tuple[list[float], list[int]]:
            dist = [INF] * nn
            prev = [-1] * nn
            done = bytearray(nn)
            dist[src] = 0.0
            pq: list[tuple[float, int]] = [(0.0, src)]
            left = len(t_idx) - (1 if t_mask[src] else 0)
            while pq:
                d, u = heapq.heappop(pq)
                if done[u]:
                    continue
                done[u] = 1
                if t_mask[u] and u != src:
                    left -= 1
                    if left == 0:
                        break
                for v, w in zip(nbrs[u], wts[u]):
                    nd = d + w
                    if nd < dist[v] - 1e-15:
                        dist[v] = nd
                        prev[v] = u
                        heapq.heappush(pq, (nd, v))
            return dist, prev

        dmaps = {t: dij(idx[t]) for t in terminals}
        # closure holds (dist, a, b) only; paths are reconstructed lazily
        # for the t-1 edges Kruskal accepts, not all C(t,2) pairs
        closure: list[tuple[float, Coord, Coord, Coord, Coord]] = []
        for u, v in combinations(terminals, 2):
            dist, _ = dmaps[u]
            dv = dist[idx[v]]
            if dv == INF:
                continue
            a, b = (u, v) if u <= v else (v, u)
            closure.append((dv, a, b, u, v))
        closure.sort(key=lambda r: (r[0], r[1], r[2]))
        # Kruskal
        parent: dict[Coord, Coord] = {t: t for t in terminals}

        def find(x: Coord) -> Coord:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        edges_out: dict[frozenset, tuple[Coord, Coord]] = {}
        for _, a, b, u, v in closure:
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            parent[ra] = rb
            # lazy path walk from u's tree (the same source the eager
            # version used, so tie-broken paths are identical)
            _, prev = dmaps[u]
            pi = [idx[v]]
            src_i = idx[u]
            while pi[-1] != src_i:
                pi.append(prev[pi[-1]])
            path = [order[i] for i in pi]
            for p, q in zip(path, path[1:]):
                edges_out.setdefault(frozenset((p, q)), (p, q))
        return list(edges_out.values())

    def simplify_degree2(self) -> "PlanarGraph":
        """Degree-2 chain contraction (reblock/i_topology.py:506-556):
        collapse through non-terminal degree-2 nodes, summing weights. The
        contracted chain is retained per edge (the reference's ``path``
        edge attribute, i_topology.py:543-556) so ``expand_edges`` can
        re-expand a Steiner result into the original segments
        (i_topology.py:347-365). When two keep-nodes are linked by
        parallel chains (a multigraph the dict adjacency cannot hold),
        the lighter chain wins, ties broken by the lexicographically
        smaller node path — deterministic at any traversal order."""
        keep = {
            n
            for n in self.adj
            if len(self.adj[n]) != 2 or self.terminal.get(n, False)
        }
        sub = PlanarGraph()
        # chain per contracted edge: frozenset((a,b)) -> (nodes, seg_weights)
        sub.chains: dict[frozenset, tuple[list[Coord], list[float]]] = {}
        best: dict[frozenset, tuple[float, tuple, list[Coord], list[float]]] = {}
        visited_edges: set[frozenset] = set()
        for start in keep:
            for nbr in self.adj[start]:
                if frozenset((start, nbr)) in visited_edges:
                    continue
                # walk the chain
                path = [start, nbr]
                ws = [self.adj[start][nbr]]
                while path[-1] not in keep:
                    u = path[-1]
                    nxts = [x for x in self.adj[u] if x != path[-2]]
                    if not nxts:
                        break
                    path.append(nxts[0])
                    ws.append(self.adj[u][nxts[0]])
                for a, b in zip(path, path[1:]):
                    visited_edges.add(frozenset((a, b)))
                if path[-1] in keep and path[0] != path[-1]:
                    key = frozenset((path[0], path[-1]))
                    w = float(sum(ws))
                    cand = (w, tuple(min(path, path[::-1])), path, ws)
                    if key not in best or cand[:2] < best[key][:2]:
                        best[key] = cand
        for key, (w, _, path, ws) in best.items():
            sub.add_edge(path[0], path[-1], w)
            sub.chains[key] = (path, ws)
        for n in keep:
            if self.terminal.get(n, False):
                sub.terminal[n] = True
        return sub

    def expand_edges(
        self, edges: list[tuple[Coord, Coord]]
    ) -> list[tuple[Coord, Coord, float]]:
        """Re-expand contracted edges into their original segments with
        per-segment weights (i_topology.py:347-365): a (u, v) chosen on a
        simplified graph maps back to its stored chain; an uncontracted
        edge maps to itself with its own weight."""
        chains = getattr(self, "chains", {})
        out: list[tuple[Coord, Coord, float]] = []
        for u, v in edges:
            key = frozenset((u, v))
            if key in chains:
                path, ws = chains[key]
                if path[0] != u:  # orient the chain u -> v
                    path, ws = path[::-1], ws[::-1]
                for (a, b), w in zip(zip(path, path[1:]), ws):
                    out.append((a, b, float(w)))
            else:
                out.append((u, v, float(self.adj[u][v])))
        return out
