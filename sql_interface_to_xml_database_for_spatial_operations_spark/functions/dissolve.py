"""Exact polygon overlay on the noded arrangement — the one kernel
behind ``st_union``'s dissolve and the areal parts of
``st_intersection``, ``st_difference`` and ``st_symdifference``.

The reference forwards all four names to PostGIS (reference
src/index.ts:44-63), whose GEOS OverlayNG re-nodes both operands and
returns ONE dissolved polygon per connected region of the result.
This module rebuilds that shape exactly, on the same machinery
ST_Polygonize uses (functions/noding.py — exact rational noding,
half-edge face walks):

1. **Arrangement faces.** Every ring of both operands (shells AND
   holes) goes through ``noding.faces_frac``: the fully-noded
   arrangement's faces as Fraction rings, each walked interior-left
   (shell CCW, holes CW).
2. **Keep faces by the operation's rule.** Each face takes one exact
   interior point (horizontal scanline strictly between vertex
   ordinates — no vertex or horizontal edge can sit on it, so every
   crossing is proper) and locates it in operand A and operand B by
   the exact even-odd rule. A face interior never meets an operand
   boundary (operand boundaries are arrangement edges), so the test is
   never a boundary tie. ``KEEP`` holds the four rules: union keeps
   faces in A or B, intersection in both, difference in A and not B,
   symmetric difference in exactly one.
3. **Cancel interior seams.** Kept faces emit their rings as DIRECTED
   edges (interior-left). An arrangement edge between two kept faces
   appears once per direction and cancels; what survives is exactly
   the result's boundary, still oriented interior-left.
4. **Stitch rings.** The surviving directed edges are walked with the
   same CW-most-turn rule as the polygonize face walk (exact angle
   comparator, no atan2), so regions touching at a single vertex come
   out as separate rings; a ring that still revisits a vertex (a hole
   touching its shell) splits there into its simple loops, the valid
   form GEOS emits. Positive rings are shells, negative rings attach
   as holes to the smallest strictly-containing shell.

Output convention: shells CCW, holes CW, each ring starting at its
lexicographically smallest directed edge; arrangement nodes on a
result edge stay as vertices (GEOS keeps its noding too). Every
coordinate is an exact rational function of the inputs. Operands with
a self-intersecting ring are outside the class and raise
``overlay._Unsupported`` (NULL at the overlay surface; ``union_ops``
keeps its documented stacked-parts-with-RuntimeWarning fallback).

Scale shape: pure per-row kernel (called from the overlay and union
pandas UDFs); cost is quadratic in the operands' own vertex count, a
property of the row, not of the table.
"""

from __future__ import annotations

from fractions import Fraction
from functools import cmp_to_key

from . import geometry as G
from . import noding as _nod
from . import overlay as _ov
from .geometry import Geometry

FPt = tuple[Fraction, Fraction]

# Face-keep rules over (inside A, inside B).
KEEP = {
    "union": lambda in_a, in_b: in_a or in_b,
    "intersection": lambda in_a, in_b: in_a and in_b,
    "difference": lambda in_a, in_b: in_a and not in_b,
    "symdifference": lambda in_a, in_b: in_a != in_b,
}


def _frac_rings(member: Geometry) -> list[list[FPt]]:
    """Member polygon's rings as closed Fraction rings. Raises
    ``overlay._Unsupported`` on non-finite coordinates — NaN passes the
    simplicity check (every comparison False) and inf survives bbox
    prescreens, so without this gate Fraction() would crash the whole
    UDF batch instead of falling back to the caller's stacked path
    (code-review r12)."""
    out = []
    for ring in member.coords:
        try:
            c = [(Fraction(x), Fraction(y)) for x, y in ring]
        except (ValueError, OverflowError) as ex:  # NaN / inf coordinate
            raise _ov._Unsupported("overlay: non-finite coordinate") from ex
        if c[0] != c[-1]:
            c.append(c[0])
        out.append(c)
    return out


def _point_in_rings(pt: FPt, rings: list[list[FPt]]) -> bool:
    """Exact even-odd containment of ``pt`` in the region bounded by
    ``rings`` (shell minus holes falls out of the parity). Uses the
    half-open crossing rule ``(y1 > py) != (y2 > py)``, which counts
    vertices on the ray once and skips horizontal edges — total and
    exact under Fractions. Callers guarantee ``pt`` is never ON a ring
    edge (face interior points can't be)."""
    px, py = pt
    cnt = 0
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 > py) != (y2 > py):
                xc = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
                if xc > px:
                    cnt += 1
    return cnt % 2 == 1


def _interior_point(face: list[list[FPt]]) -> FPt:
    """One exact point strictly inside the face (shell minus holes).

    Scanline at a y strictly between two adjacent DISTINCT vertex
    ordinates of the face: no vertex and no horizontal edge can lie on
    it, so crossings with the face boundary are all proper and the
    midpoint of the first even-odd span is interior."""
    shell = face[0]
    ys_all = sorted({y for ring in face for _x, y in ring})
    sy_min = min(y for _x, y in shell)
    sy_max = max(y for _x, y in shell)
    for lo, hi in zip(ys_all, ys_all[1:]):
        if hi <= sy_min or lo >= sy_max:
            continue
        ystar = (lo + hi) / 2
        xs: list[Fraction] = []
        for ring in face:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                if (y1 > ystar) != (y2 > ystar):
                    xs.append(x1 + (ystar - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        if len(xs) >= 2:
            return ((xs[0] + xs[1]) / 2, ystar)
    raise _ov._Unsupported("overlay: face admits no interior scanline")


def _stitch_rings(dir_edges: set[tuple[FPt, FPt]]) -> list[list[FPt]]:
    """Closed interior-left rings from the surviving directed boundary
    edges: from edge (u, v), the next edge leaves v toward the CW-most
    direction from the reverse (v -> u) — the same tightest-left-turn
    rule as the polygonize face walk, so regions touching at a single
    vertex come out as separate rings. Every directed edge is consumed
    exactly once; walks start at the smallest remaining directed edge,
    so each ring starts at its lexicographically smallest one."""
    out_map: dict[FPt, list[FPt]] = {}
    for a, b in dir_edges:
        out_map.setdefault(a, []).append(b)
    for v, outs in out_map.items():
        outs.sort(
            key=cmp_to_key(
                lambda p, q, v=v: _nod._angle_cmp(
                    (p[0] - v[0], p[1] - v[1]), (q[0] - v[0], q[1] - v[1])
                )
            )
        )
    remaining = set(dir_edges)
    rings: list[list[FPt]] = []
    for start in sorted(dir_edges):
        if start not in remaining:
            continue
        ring = [start[0]]
        cur = start
        while True:
            remaining.discard(cur)
            u, v = cur
            ring.append(v)
            outs = [w for w in out_map[v] if (v, w) in remaining or (v, w) == start]
            if not outs:
                raise _ov._Unsupported("overlay: boundary walk dead-ended")
            rev = (u[0] - v[0], u[1] - v[1])
            # first available direction strictly CW of rev: in the
            # CCW-sorted candidate list, the predecessor of rev's
            # angular slot
            idx = 0
            while idx < len(outs) and _nod._angle_cmp(
                (outs[idx][0] - v[0], outs[idx][1] - v[1]), rev
            ) < 0:
                idx += 1
            cur = (v, outs[(idx - 1) % len(outs)])
            if cur == start:
                break
        rings.extend(_split_pinches(ring))
    return rings


def _split_pinches(ring: list[FPt]) -> list[list[FPt]]:
    """Split a closed ring that revisits a vertex into simple closed
    loops, each rotated to start at its smallest directed edge. The
    left-turn walk joins a hole touching its shell (or two touching
    holes) into one self-touching ring; GEOS's valid form is the
    separate loops, which the sign test then files as shell or hole."""
    loops: list[list[FPt]] = []
    stack: list[FPt] = []
    pos: dict[FPt, int] = {}
    for v in ring[:-1]:
        k = pos.get(v)
        if k is None:
            pos[v] = len(stack)
            stack.append(v)
            continue
        loops.append(stack[k:])
        for w in stack[k + 1 :]:
            del pos[w]
        del stack[k + 1 :]
    loops.append(stack)
    if len(loops) == 1:
        return [ring]
    out = []
    for loop in loops:
        n = len(loop)
        i = min(range(n), key=lambda i: (loop[i], loop[(i + 1) % n]))
        out.append(loop[i:] + loop[:i] + [loop[i]])
    return out


def _operand_rings(members: list[Geometry]) -> list[list[list[FPt]]]:
    """Each Polygon member's rings as closed Fraction rings, after the
    simplicity gate: a non-simple ring (or a non-polygon member) raises
    ``overlay._Unsupported``."""
    out = []
    for m in members:
        if m.kind != "Polygon":
            raise _ov._Unsupported("overlay: polygon members only")
        for ring in m.coords:
            closed = list(ring)
            if closed and closed[0] != closed[-1]:
                closed.append(closed[0])
            if len(closed) < 4 or not _ov._is_simple_ring(closed):
                raise _ov._Unsupported("overlay: non-simple member ring")
        out.append(_frac_rings(m))
    return out


def _kept_faces(a: list[Geometry], b: list[Geometry], keep):
    """Arrangement faces of operands A (Polygon members ``a``) and B
    (``b``) that ``keep`` (one of ``KEEP``) retains (module docstring,
    steps 1-2). A point is inside an operand when it is inside any of
    its members, so overlapping members act as their union."""
    ra, rb = _operand_rings(a), _operand_rings(b)
    for face in _nod.faces_frac([ring for m in ra + rb for ring in m]):
        pt = _interior_point(face)  # once per face, not per member
        in_a = any(_point_in_rings(pt, m) for m in ra)
        in_b = any(_point_in_rings(pt, m) for m in rb)
        if keep(in_a, in_b):
            yield face


def overlay_rings(
    a: list[Geometry], b: list[Geometry], keep
) -> list[list[list[FPt]]]:
    """Exact areal overlay of operand A (Polygon members ``a``) and
    operand B (``b``) under ``keep`` (one of ``KEEP``): the result's
    polygons as Fraction ring lists ``[shell, *holes]`` (module
    docstring, steps 1-4). ``[]`` is the empty result."""
    dir_edges: set[tuple[FPt, FPt]] = set()
    for face in _kept_faces(a, b, keep):
        for ring in face:
            for p, q in zip(ring, ring[1:]):
                if p == q:
                    continue
                if (q, p) in dir_edges:
                    dir_edges.remove((q, p))  # interior seam: cancels
                else:
                    dir_edges.add((p, q))
    # shell/hole split + smallest-containing-shell attachment shared
    # with the polygonize assembly; strict: an unattachable hole is an
    # exact-or-NULL failure here, not an unbounded-ring artifact
    return _nod.assemble_shells_and_holes(_stitch_rings(dir_edges), strict=True)


def interiors_overlap(a: Geometry, b: Geometry) -> bool:
    """True iff the interiors of Polygons ``a`` and ``b`` share a point:
    some arrangement face lies inside both. Strictly overlapping bboxes
    prescreen (disjoint parts rarely share one, and the arrangement is
    the expensive path). Raises ``overlay._Unsupported`` for a
    non-simple ring."""
    (ax0, ay0, ax1, ay1) = G.bbox(a)
    (bx0, by0, bx1, by1) = G.bbox(b)
    if not (ax0 < bx1 and bx0 < ax1 and ay0 < by1 and by0 < ay1):
        return False
    return next(_kept_faces([a], [b], KEEP["intersection"]), None) is not None


def dissolve_polygons(members: list[Geometry]) -> list[Geometry]:
    """Boundary-dissolved union of Polygon members (simple rings; holed
    members fine). Returns the dissolved Polygon parts (shells CCW with
    their holes CW, exact coordinates floated at output). Raises
    ``overlay._Unsupported`` for members outside the class (any
    non-simple ring) — callers fall back to their documented stacked
    path."""
    polys = overlay_rings(members, [], KEEP["union"])
    if not polys:
        raise _ov._Unsupported("dissolve: no face inside any member")
    return [
        Geometry(
            "Polygon", [[(float(x), float(y)) for x, y in r] for r in rings_]
        )
        for rings_ in polys
    ]


def frac_segments(g: Geometry) -> list[tuple[FPt, FPt]] | None:
    """Boundary segments as exact Fraction pairs, or None for
    non-finite coordinates (callers treat that as "cannot share
    linework" rather than crashing the batch — code-review r12).
    Compute ONCE per part and reuse across the O(n²) adjacency loop."""
    try:
        rings = _frac_rings(g)
    except _ov._Unsupported:
        return None
    return [
        (p, q) for ring in rings for p, q in zip(ring, ring[1:]) if p != q
    ]


def boundaries_share_linework(
    a: Geometry,
    b: Geometry,
    asegs: list[tuple[FPt, FPt]] | None = None,
    bsegs: list[tuple[FPt, FPt]] | None = None,
) -> bool:
    """True when two polygons' boundaries share a positive-length
    collinear span — PostGIS dissolves edge-adjacent polygons into one
    even when their interiors never overlap, so the union's overlap
    components must connect them (bbox-prescreened; exact collinear
    interval test shared with ST_SharedPaths). Pass precomputed
    ``frac_segments`` to amortize the Fraction conversion across an
    adjacency loop."""
    (ax0, ay0, ax1, ay1) = G.bbox(a)
    (bx0, by0, bx1, by1) = G.bbox(b)
    if not (ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1):
        return False
    from .split import _linear_overlap

    if asegs is None:
        asegs = frac_segments(a)
    if bsegs is None:
        bsegs = frac_segments(b)
    if asegs is None or bsegs is None:
        return False
    return _linear_overlap(asegs, bsegs)
