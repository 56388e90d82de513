"""Concave hull (alpha shape) per cluster — scipy-free.

Reference: src/upcp/utils/alpha_shape_utils.py:11-202 — Delaunay
triangulation, keep triangles whose circumradius < 1/alpha, boundary
edges are those used by exactly one kept triangle, then assemble edge
chains into polygons (the algorithm is public: stackoverflow.com/a/
50159452, CC BY-SA 4.0, cited by the reference itself). scipy is not
in this container, so the Delaunay step is an incremental
Bowyer–Watson in pure NumPy — O(n²) per cluster, fine because clusters
are bounded (a 50 m tile's worth at most; same batch shape the
reference runs per cluster).

Spark strategy: one ``applyInPandas`` per component; output is one row
per hull polygon with vertex count, area (shoelace) and the
largest-polygon argmax flag (reference alpha_shape_utils.py:179-180 —
downstream pipelines keep the biggest outer ring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .components import min_root_components


def _circumcircle(pa, pb, pc):
    """(center, radius²) of the triangle circumcircle; radius² = inf
    for (near-)collinear triangles. Explicit multiplications (no **):
    libm pow is not guaranteed correctly rounded, plain * is — every
    double op here mirrors the SQL oracle bit-for-bit."""
    ax, ay = pa
    bx, by = pb
    cx, cy = pc
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if abs(d) < 1e-12:
        return (0.0, 0.0), np.inf
    ux = (
        (ax * ax + ay * ay) * (by - cy)
        + (bx * bx + by * by) * (cy - ay)
        + (cx * cx + cy * cy) * (ay - by)
    ) / d
    uy = (
        (ax * ax + ay * ay) * (cx - bx)
        + (bx * bx + by * by) * (ax - cx)
        + (cx * cx + cy * cy) * (bx - ax)
    ) / d
    r2 = (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy)
    return (ux, uy), r2


class DegenerateTriangulationError(ValueError):
    """Exactly-cocircular input detected (e.g. a lattice): the Delaunay
    triangulation is not unique, so the engine's Bowyer–Watson and the
    oracle's brute-force strict-< empty-circumcircle construction may
    legitimately disagree. Both sides FAIL CLOSED instead: the engine
    raises this (→ sentinel row in cluster_alpha_shape) and the SQL
    oracle routes the component to its sentinel branch via an exact
    on-circle equality probe. Jittered/continuous data never hits the
    exact-equality condition (measure zero).

    Residual asymmetry (documented, not closed): the oracle's liveness
    proxy (no earlier point strictly inside, sorted-order doubles) and
    the engine's actual triangle-alive state (creation-order doubles)
    could disagree only on inputs with an exact sorted-order equality
    AND a sub-ulp near-tie in the other evaluation order simultaneously
    — adversarial beyond the lattice class this guard exists for."""


def delaunay_triangles(
    pts: np.ndarray, degen_r2: float = 0.0
) -> list[tuple[int, int, int]]:
    """Bowyer–Watson incremental Delaunay over (n, 2) points. Returns
    triangles as index triples into ``pts``. Pure NumPy/Python —
    O(n²) with small constants; meant for bounded per-cluster sets.

    ``degen_r2``: raise DegenerateTriangulationError when an inserted
    point lies EXACTLY on the circumcircle of an existing data triangle
    whose squared circumradius is below this threshold (pass the alpha
    filter's r_max² — larger circles are alpha-dropped under either
    diagonal choice, so their ambiguity cannot affect the kept set).
    The default 0.0 disables the check: ties then resolve by the
    documented deterministic rule (lex insertion order, on-circle
    points join the cavity)."""
    n = len(pts)
    if n < 3:
        return []
    # super-triangle far outside the data
    cx, cy = pts.mean(axis=0)
    m = max(pts[:, 0].ptp(), pts[:, 1].ptp(), 1.0) * 100.0
    sup = np.array(
        [[cx - 20 * m, cy - m], [cx + 20 * m, cy - m], [cx, cy + 20 * m]]
    )
    allp = np.vstack([pts, sup])
    si = [n, n + 1, n + 2]
    tris: list[tuple[int, int, int]] = [tuple(si)]
    cc = {tuple(si): _circumcircle(*allp[list(si)])}
    for p in range(n):
        px, py = allp[p]
        bad = []
        for t in tris:
            (ux, uy), r2 = cc[t]
            d2 = (px - ux) * (px - ux) + (py - uy) * (py - uy)
            if (
                degen_r2 > 0.0
                and t[0] < n and t[1] < n and t[2] < n
                and np.isfinite(r2)
                and d2 <= r2 * 1.0000000001
            ):
                # EXACT-equality degeneracy test on the SORTED-vertex
                # circumcircle — the same doubles the SQL oracle's
                # `cocirc` probe computes — so engine and oracle fire
                # on identical conditions. The gate above is slightly
                # WIDER than the cavity test (relative margin): the
                # cached circumcircle is evaluated in creation order,
                # and a point exactly on the sorted-order circle could
                # otherwise sit an ulp outside the cached one and skip
                # the probe the oracle fires (round-4 review). The
                # margin only decides whether the exact probe RUNS;
                # cavity membership below is unchanged.
                ts = sorted(t)
                (uxs, uys), r2s = _circumcircle(
                    allp[ts[0]], allp[ts[1]], allp[ts[2]]
                )
                d2s = (px - uxs) * (px - uxs) + (py - uys) * (py - uys)
                if d2s == r2s and r2s < degen_r2:
                    raise DegenerateTriangulationError(
                        f"point {p} exactly on circumcircle of {t}"
                    )
            if d2 <= r2:
                bad.append(t)
        # boundary of the cavity = edges used by exactly one bad tri
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        for t in bad:
            tris.remove(t)
            del cc[t]
        for (a, b), cnt in edge_count.items():
            if cnt == 1:
                nt = (a, b, p)
                tris.append(nt)
                cc[nt] = _circumcircle(allp[a], allp[b], allp[p])
    out = [t for t in tris if all(i < n for i in t)]
    return out


def _boundary_loops(pts: np.ndarray, kept: list[tuple[int, int, int]]):
    """Split the alpha-complex boundary into simple vertex loops.

    Reference semantics: stitch_boundaries + split_loops
    (alpha_shape_utils.py:105-157) — figure-eight boundaries that pinch
    at a shared vertex are split into separate simple loops. The
    reference walks edges popped from a Python set (iteration-order
    dependent); this implementation is the deterministic, SQL-mirrorable
    equivalent: at each pinch vertex the boundary edges pair up by the
    maximal fan of kept triangles between them (two boundary edges
    belong to the same loop iff they bound the same triangle fan), which
    yields a STATIC successor function over directed boundary edges.
    Loops are the successor cycles, each started at its minimal
    undirected edge (lo→hi).

    Returns [(loop_key, vert_idx_list)] ordered by loop_key, where
    loop_key is the minimal (lo, hi) edge of the loop.
    """
    from collections import defaultdict

    edge_count: dict[tuple[int, int], int] = {}
    edge_tri: dict[tuple[int, int], int] = {}
    for ti, t in enumerate(kept):
        for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            k = (min(e), max(e))
            edge_count[k] = edge_count.get(k, 0) + 1
            edge_tri[k] = ti
    boundary = sorted(e for e, cnt in edge_count.items() if cnt == 1)
    if not boundary:
        return []

    tri_at: dict[int, list[int]] = defaultdict(list)
    for ti, t in enumerate(kept):
        for v in t:
            tri_at[v].append(ti)
    bd_at: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for e in boundary:
        bd_at[e[0]].append(e)
        bd_at[e[1]].append(e)

    # pair boundary edges at each vertex by triangle-fan membership
    pair_at: dict[tuple[int, tuple[int, int]], tuple[int, int]] = {}
    for v, bes in bd_at.items():
        tris_v = tri_at[v]
        shared: dict[tuple[int, int], list[int]] = defaultdict(list)
        for ti in tris_v:
            for u in kept[ti]:
                if u != v:
                    shared[(min(v, u), max(v, u))].append(ti)
        fan = min_root_components(
            ((ts[0], t2) for ts in shared.values() for t2 in ts[1:]), tris_v
        )
        fan_edges: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for e in bes:
            fan_edges[fan[edge_tri[e]]].append(e)
        for es in fan_edges.values():
            if len(es) != 2:  # degenerate float triangulation — bail
                return []
            pair_at[(v, es[0])] = es[1]
            pair_at[(v, es[1])] = es[0]

    loops = []
    done: set[tuple[int, int]] = set()
    for e0 in boundary:
        if e0 in done:
            continue
        a, b = e0
        verts = [a]
        while True:
            done.add((min(a, b), max(a, b)))
            nxt_e = pair_at[(b, (min(a, b), max(a, b)))]
            c = nxt_e[0] if nxt_e[1] == b else nxt_e[1]
            if (b, c) == e0:
                break
            verts.append(b)
            a, b = b, c
        for cyc in _split_closed_walk(verts):
            loops.append((_cycle_key(cyc), _canon_cycle(cyc)))
    loops.sort(key=lambda kl: kl[0])
    return loops


def _split_closed_walk(verts: list[int]) -> list[list[int]]:
    """Split a closed vertex walk into simple cycles at repeated
    (pinch) vertices — reference split_loops semantics
    (alpha_shape_utils.py:136-157). A walk with no repeats is returned
    unchanged, so non-pinch inputs are untouched."""
    pos: dict[int, int] = {}
    for i, v in enumerate(verts):
        if v in pos:
            j = pos[v]
            return (_split_closed_walk(verts[j:i])
                    + _split_closed_walk(verts[:j] + verts[i:]))
        pos[v] = i
    return [verts]


def _cycle_key(verts: list[int]) -> tuple[int, int]:
    k = len(verts)
    return min(
        (min(verts[i], verts[(i + 1) % k]), max(verts[i], verts[(i + 1) % k]))
        for i in range(k)
    )


def _canon_cycle(verts: list[int]) -> list[int]:
    """Rotate (and if needed reverse) a simple cycle so the walk starts
    at its minimal undirected edge, traversed lo→hi — the same
    convention the unsplit walk already follows (it starts at ``e0``,
    the loop's minimal boundary edge). Identity for loops the splitter
    did not touch."""
    k = len(verts)
    lo, hi = _cycle_key(verts)
    i = verts.index(lo)
    if verts[(i + 1) % k] == hi:
        return verts[i:] + verts[:i]
    rev = verts[::-1]
    j = rev.index(lo)
    return rev[j:] + rev[:j]


def _loop_area(idx: list[int], pts: np.ndarray) -> float:
    """Sequential-fold shoelace over the walk order (term order mirrors
    the oracle's ordered list_reduce exactly)."""
    s = 0.0
    k = len(idx)
    for i in range(k):
        x1, y1 = pts[idx[i]]
        x2, y2 = pts[idx[(i + 1) % k]]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def _loop_contains(outer_idx: list[int], pts: np.ndarray,
                   wx: float, wy: float) -> bool:
    """Crossing-parity point-in-ring over the walk-ordered edges — the
    same float formula as the PIP oracles (deterministic both engines)."""
    cnt = 0
    k = len(outer_idx)
    for i in range(k):
        x1, y1 = pts[outer_idx[i]]
        x2, y2 = pts[outer_idx[(i + 1) % k]]
        if (y1 > wy) != (y2 > wy) and wx < (x2 - x1) * (wy - y1) / (y2 - y1) + x1:
            cnt += 1
    return cnt % 2 == 1


def alpha_shape_loops(
    xy: np.ndarray, alpha: float = 1.0, degen_check: bool = False
):
    """All boundary loops of the alpha complex, deterministically split
    at pinch vertices. Returns (pts, [(loop_key, vert_idx_list)]).

    ``degen_check=True`` raises DegenerateTriangulationError on
    exactly-cocircular input instead of relying on Bowyer–Watson's
    (deterministic, insertion-order) diagonal choice — used by the
    oracle-paired cluster_alpha_shape so engine and SQL oracle fail
    closed together on degenerate (e.g. lattice) inputs. The default
    keeps the documented deterministic tie-break: points are
    lex-sorted by np.unique, BW inserts in that order, and an
    on-circle point joins the cavity (the ``<=`` test), so lattice
    output is reproducible run-to-run."""
    pts = np.unique(xy.astype(float), axis=0)
    if len(pts) < 4:
        return pts, []  # reference asserts >= 4 pts (alpha_shape_utils.py:50)
    r_max2 = np.inf if alpha <= 0 else (1.0 / alpha) * (1.0 / alpha)
    # filter with SORTED vertex order so the circumradius doubles match
    # the oracle's i<j<k evaluation exactly (circumcircle float results
    # depend on argument order)
    kept = []
    for t in delaunay_triangles(
        pts, degen_r2=r_max2 if degen_check else 0.0
    ):
        ts = (min(t), sorted(t)[1], max(t))
        if _circumcircle(pts[ts[0]], pts[ts[1]], pts[ts[2]])[1] < r_max2:
            kept.append(ts)
    return pts, _boundary_loops(pts, kept)


def alpha_shape_polys(
    xy: np.ndarray, alpha: float = 1.0
) -> list[np.ndarray]:
    """Concave hull rings (each (k, 2), closed implicitly) of a point
    set: triangles with circumradius < 1/alpha are kept; edges used by
    exactly one kept triangle form the boundary; loops assemble by the
    deterministic fan-pairing walk (reference alpha_shape +
    generate_poly_from_edges)."""
    pts, loops = alpha_shape_loops(xy, alpha)
    return [pts[idx] for _, idx in loops if len(idx) >= 3]


def _ring_area(ring: np.ndarray) -> float:
    if len(ring) < 3:
        return 0.0
    return _loop_area(list(range(len(ring))), ring)


ALPHA_SCHEMA = StructType(
    [
        StructField("component", LongType()),
        StructField("poly_idx", IntegerType()),
        StructField("n_vertices", IntegerType()),
        StructField("area", DoubleType()),
        StructField("n_holes", IntegerType()),
        StructField("is_largest", BooleanType()),
    ]
)


def cluster_alpha_shape(
    with_comp: DataFrame,
    alpha: float = 1.0,
    comp_col: str = "component",
) -> DataFrame:
    """Per-component concave hull polygons with hole nesting + the
    biggest-polygon argmax (reference generate_poly_from_edges,
    alpha_shape_utils.py:176-202: the outer rings are emitted with
    their directly-nested holes subtracted; islands inside holes are
    dropped, mirroring the reference's `outer - poly` loop). One row
    per OUTER polygon: net area = outer − Σ direct holes, n_holes =
    number of direct holes. Grouped-map NumPy; deterministic walk and
    float ops mirror the SQL oracle."""

    def per_comp(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(pdf[comp_col].iloc[0])
        cols = ["component", "poly_idx", "n_vertices", "area",
                "n_holes", "is_largest"]
        try:
            pts, loops = alpha_shape_loops(
                pdf[["x", "y"]].to_numpy(dtype=float), alpha,
                degen_check=True,
            )
        except DegenerateTriangulationError:
            # exactly-cocircular input: fail closed (the oracle routes
            # the component to the same sentinel via its equality probe)
            return pd.DataFrame(
                [(comp, -1, int(len(pdf)), 0.0, 0, False)], columns=cols
            )
        if not loops:
            return pd.DataFrame(
                [(comp, -1, int(len(pdf)), 0.0, 0, False)], columns=cols
            )
        k = len(loops)
        areas = [_loop_area(idx, pts) for _, idx in loops]
        inside = [[False] * k for _ in range(k)]  # inside[i][j]: i ⊇ j
        for i in range(k):
            vs_i = set(loops[i][1])
            for j in range(k):
                if i != j:
                    # probe with j's min vertex NOT shared with i —
                    # loops touching at a pinch vertex would otherwise
                    # probe a point ON i's boundary and misclassify a
                    # sibling lobe as a hole (fallback: plain min —
                    # both engines compute the identical choice)
                    cand = [v for v in loops[j][1] if v not in vs_i]
                    tv = min(cand) if cand else min(loops[j][1])
                    wx, wy = pts[tv]
                    inside[i][j] = _loop_contains(loops[i][1], pts, wx, wy)
        depth = [sum(inside[i][j] for i in range(k) if i != j)
                 for j in range(k)]
        rows = []
        for i in range(k):  # loops already ordered by loop_key
            if depth[i] != 0:
                continue
            net = areas[i]
            n_holes = 0
            for j in range(k):  # key order — mirrors the oracle fold
                if j != i and depth[j] == 1 and inside[i][j]:
                    net = net - areas[j]
                    n_holes += 1
            rows.append(
                (comp, len(rows), int(len(loops[i][1])), round(net, 6),
                 n_holes, False)
            )
        if not rows:  # pathological: every loop judged contained —
            # mirror the oracle's sentinel fallback instead of crashing
            return pd.DataFrame(
                [(comp, -1, int(len(pdf)), 0.0, 0, False)], columns=cols
            )
        big = min(range(len(rows)), key=lambda r: (-rows[r][3], r))
        rows[big] = rows[big][:5] + (True,)
        return pd.DataFrame(rows, columns=cols)

    return with_comp.groupBy(comp_col).applyInPandas(
        per_comp, schema=ALPHA_SCHEMA
    )
