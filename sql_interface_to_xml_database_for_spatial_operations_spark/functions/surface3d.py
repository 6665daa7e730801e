"""SQL/MM 3-D surface types (r15): POLYHEDRALSURFACE / TIN / TRIANGLE.

The reference forwards PostGIS function names verbatim
(src/index.ts:44-63), and PostGIS (via SFCGAL) accepts these WKT
types for ST_NumPatches / ST_PatchN / ST_3DArea / ST_Volume /
ST_IsClosed — a CityGML / BIM / LiDAR-mesh import hits them on day
one. The type codec lives in THIS module (the measure_m.py /
zcoord.py self-contained-codec template) so the 2-D geometry kernel
and the Z simple-feature codec stay untouched.

Semantics (PostGIS/SFCGAL-matching unless noted):

- ``POLYHEDRALSURFACE [Z|M|ZM] (((…)), …)`` — patches are polygons
  (outer ring + optional holes, closed, ≥ 4 vertices).
  ``TIN [Z|M|ZM] (((…)), …)`` — patches are triangles (exactly one
  4-vertex closed ring). ``TRIANGLE [Z|M|ZM] ((…))`` — a single
  triangle patch. All four dimensional forms round-trip (r17,
  VERDICT r16 task 4 — the zcoord dims template); the parse result's
  second element is the dims TAG ('' | 'Z' | 'M' | 'ZM'), and
  measure values ride through the codec untouched. Geometric kernels
  (area, volume, mesh closure) use (x, y, z) with z = 0 for M-only
  surfaces — the PostGIS convention that M never affects geometry.
- ``st_numpatches(g)`` / ``st_patchn(g, n)`` — patch count / the
  1-based n-th patch (POLYGON [Z] for a surface patch, TRIANGLE [Z]
  for a TIN patch — PostGIS returns the patch in its own type).
  Non-surface input → NULL (PostGIS errors; this engine's convention
  is the loud NULL).
- ``st_3darea(g)`` — sum of patch areas by Newell's vector-area
  formula (exact for planar patches, the magnitude of
  ½·Σ vᵢ × vᵢ₊₁; holes subtract). Also accepts POLYGON Z /
  MULTIPOLYGON Z (planar 3-D area) and plain 2-D areal WKT (Z = 0
  reduces Newell to the shoelace — PostGIS ST_3DArea parity).
- ``st_volume(g)`` — enclosed volume of a CLOSED surface by the
  divergence theorem: |Σ_triangles det(v₀, v₁, v₂)| / 6 over the
  fan triangulation of every ring (signed fans are exact for planar
  simple polygons regardless of convexity; oppositely-wound holes
  cancel their flux automatically). Open surface → loud NULL
  (PostGIS ST_Volume requires a solid; a closed surface WKT stands
  for the solid it bounds).
- ``st_isclosed(g)`` on a surface — TRUE iff every undirected edge of
  the patch mesh is shared by exactly TWO patch rings (liblwgeom
  ``lwpsurface_is_closed`` / ``lwtin_is_closed``). ``surface_is_closed``
  here is the kernel; the SQL name belongs to the accessors family,
  whose ``is_closed`` routes surface WKT to it.
- ``st_3dintersects(a, b)`` — EXACT boolean over puntal / lineal
  operands (2-D / M / Z / ZM via the zcoord primitive reader, absent
  Z = 0): a float distance pre-filter (the Shewchuk-style
  filtered-exact pattern of geometry._orient) settles clearly-apart
  pairs, and near-contact pairs fall through to a Fraction predicate
  — coplanarity by scalar triple product, in-plane straddle by exact
  s/t solves, collinear overlap by exact 1-D intervals — so
  crossing-at-integer fixtures are decided exactly, never by a
  rounding epsilon. Areal / surface operands → documented loud NULL
  (same contract as st_3ddistance).

All map-only Arrow-batched pandas UDFs — no shuffle. Pairwise
kernels carry the zcoord work budget; the exact fallback has its own
smaller budget (Fractions are ~100× a float op).
"""

from __future__ import annotations

import math
import re
from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, LongType, StringType

from . import wkt as W
from . import zcoord as Z
from .wkt import _safe

_HEAD_RE = re.compile(
    r"^\s*(POLYHEDRALSURFACE|TIN|TRIANGLE)\s*(ZM|Z|M)?\b\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)

# exact-predicate budget: pair ops before the 3-D intersect falls to a
# loud NULL (Fraction arithmetic — keep it far under the float budget)
_MAX_EXACT_WORK = 250_000
# float pre-filter guard: separations beyond eps * scale are settled by
# the float kernel; only near-contact pairs pay for Fractions
_GUARD = 1e-7


def _parse_patch_rings(tok: str, width: int, triangle: bool):
    """One patch body ``((ring), (ring)…)`` → [rings] or None."""
    try:
        rings = W._polygon(tok, width, lax=False)
    except (ValueError, IndexError):
        return None
    if triangle and (len(rings) != 1 or len(rings[0]) != 4):
        return None  # TIN / TRIANGLE patches are single 4-vertex rings
    return rings


def _dims_tag(dims) -> str:
    """Normalize a dims argument: legacy bool (True = Z) or one of
    '' / 'Z' / 'M' / 'ZM'."""
    if dims is True:
        return "Z"
    if dims is False or dims is None:
        return ""
    return str(dims).upper()


def _dims_width(dims) -> int:
    return 2 + len(_dims_tag(dims))  # '' 2, 'Z'/'M' 3, 'ZM' 4


def parse_surface_wkt(wkt):
    """('PolyhedralSurface'|'Tin'|'Triangle', dims, patches) or None.
    ``dims`` is '' | 'Z' | 'M' | 'ZM' (r17 — all four forms parse;
    '' and 'Z' match the pre-r17 False/True truthiness). ``patches``
    is a list of [rings]; a TRIANGLE is one patch. Malformed bodies →
    None (loud)."""
    if wkt is None:
        return None
    mt = _HEAD_RE.match(str(wkt))
    if not mt:
        return None
    kind = {"POLYHEDRALSURFACE": "PolyhedralSurface", "TIN": "Tin", "TRIANGLE": "Triangle"}[
        mt.group(1).upper()
    ]
    dims = (mt.group(2) or "").upper()
    width = _dims_width(dims)
    rest = mt.group(3).strip()
    if rest.upper() == "EMPTY":
        return (kind, dims, [])
    body = W._strip_parens(rest)
    if body is None:
        return None
    if kind == "Triangle":
        rings = _parse_patch_rings("(" + body + ")", width, triangle=True)
        return None if rings is None else (kind, dims, [rings])
    toks = W._split_top(body)
    patches = []
    for tok in toks:
        rings = _parse_patch_rings(tok, width, triangle=(kind == "Tin"))
        if rings is None:
            return None
        patches.append(rings)
    return (kind, dims, patches)


def _ring_txt(ring) -> str:
    return "(" + ", ".join(" ".join(W._fmt(v) for v in p) for p in ring) + ")"


def to_surface_wkt(kind: str, dims, patches) -> str:
    d = _dims_tag(dims)
    tag = f" {d}" if d else ""
    head = {"PolyhedralSurface": "POLYHEDRALSURFACE", "Tin": "TIN", "Triangle": "TRIANGLE"}[kind]
    if not patches:
        return f"{head}{tag} EMPTY"
    if kind == "Triangle":
        return f"{head}{tag} (" + _ring_txt(patches[0][0]) + ")"
    return (
        f"{head}{tag} ("
        + ", ".join("(" + ", ".join(_ring_txt(r) for r in rings) + ")" for rings in patches)
        + ")"
    )


def patch_wkt(kind: str, dims, rings) -> str:
    """A single patch in its own type: TIN / TRIANGLE → TRIANGLE,
    else POLYGON."""
    d = _dims_tag(dims)
    tag = f" {d}" if d else ""
    if kind in ("Tin", "Triangle"):
        return f"TRIANGLE{tag} (" + _ring_txt(rings[0]) + ")"
    return f"POLYGON{tag} (" + ", ".join(_ring_txt(r) for r in rings) + ")"


def _xyz(p, use_z: bool = True):
    """(x, y, z) of a 2/3/4-wide vertex; ``use_z=False`` marks an
    M-only width-3 vertex whose third slot is the MEASURE, not z —
    geometry uses z = 0 there (M never affects geometry)."""
    return (p[0], p[1], p[2] if use_z and len(p) > 2 else 0.0)


def _newell_area(ring, use_z: bool = True) -> float:
    """|½ Σ vᵢ × vᵢ₊₁| — the planar area of a closed 3-D ring."""
    nx = ny = nz = 0.0
    for p, q in zip(ring, ring[1:]):
        ax, ay, az = _xyz(p, use_z)
        bx, by, bz = _xyz(q, use_z)
        nx += ay * bz - az * by
        ny += az * bx - ax * bz
        nz += ax * by - ay * bx
    return 0.5 * math.sqrt(nx * nx + ny * ny + nz * nz)


def _patch_area(rings, use_z: bool = True) -> float:
    outer = _newell_area(rings[0], use_z)
    return outer - sum(_newell_area(r, use_z) for r in rings[1:])


def area3d_wkt(wkt) -> float | None:
    """ST_3DArea: surfaces, 3-D polygons, and 2-D areal WKT (Z = 0)."""
    ps = parse_surface_wkt(wkt)
    if ps is not None:
        _, dims, patches = ps
        use_z = "Z" in dims
        return float(sum(_patch_area(rings, use_z) for rings in patches))
    g = W.read(wkt)
    if g is None or g[0] not in ("Polygon", "MultiPolygon") or not (g[1] or g[2]):
        return None  # the planar reader has no EMPTY
    kind, dims, coords = g
    polys = [coords] if kind == "Polygon" else coords
    return float(sum(_patch_area(rings, "Z" in dims) for rings in polys if rings))


def num_patches(wkt) -> int | None:
    ps = parse_surface_wkt(wkt)
    return None if ps is None else len(ps[2])


def patch_n(wkt, n) -> str | None:
    ps = parse_surface_wkt(wkt)
    if ps is None or n is None:
        return None
    try:
        i = int(n)
    except (TypeError, ValueError):
        return None
    kind, dims, patches = ps
    if i < 1 or i > len(patches):
        return None
    return patch_wkt(kind, dims, patches[i - 1])


def _edge_counts(patches, use_z: bool = True):
    """Undirected-edge multiset over every patch ring."""
    counts: dict[tuple, int] = {}
    for rings in patches:
        for ring in rings:
            for p, q in zip(ring, ring[1:]):
                a, b = _xyz(p, use_z), _xyz(q, use_z)
                if a == b:
                    continue  # repeated vertex — not a mesh edge
                key = (a, b) if a <= b else (b, a)
                counts[key] = counts.get(key, 0) + 1
    return counts


def surface_is_closed(patches, use_z: bool = True) -> bool:
    """lwpsurface_is_closed: every edge shared by exactly 2 rings."""
    counts = _edge_counts(patches, use_z)
    return bool(counts) and all(c == 2 for c in counts.values())


def _oriented_closed(patches, use_z: bool = True) -> bool:
    """The STRICTER volume precondition: every DIRECTED edge appears
    exactly once and its reverse exactly once (a consistently oriented
    watertight 2-manifold). A mesh that is merely edge-watertight but
    mixes windings (one face flipped) passes surface_is_closed yet
    corrupts the divergence-theorem flux sum — code-review r15."""
    counts: dict[tuple, int] = {}
    for rings in patches:
        for ring in rings:
            for p, q in zip(ring, ring[1:]):
                a, b = _xyz(p, use_z), _xyz(q, use_z)
                if a == b:
                    continue
                counts[(a, b)] = counts.get((a, b), 0) + 1
    if not counts:
        return False
    return all(
        c == 1 and counts.get((b, a), 0) == 1 for (a, b), c in counts.items()
    )


def volume_wkt(wkt) -> float | None:
    """ST_Volume of a CLOSED, CONSISTENTLY ORIENTED surface (divergence
    theorem over signed ring fans); open / mixed-winding / non-surface
    / EMPTY → loud NULL (a flipped face would silently corrupt the
    flux sum — the oriented-manifold gate keeps exact-or-loud)."""
    ps = parse_surface_wkt(wkt)
    if ps is None:
        return None
    _, dims, patches = ps
    use_z = "Z" in dims
    if not patches or not _oriented_closed(patches, use_z):
        return None
    vol = 0.0
    for rings in patches:
        for ring in rings:
            v0 = _xyz(ring[0], use_z)
            for p, q in zip(ring[1:-2], ring[2:-1]):
                a, b = _xyz(p, use_z), _xyz(q, use_z)
                # det(v0, a, b) — the signed fan-tetrahedron volume ×6
                vol += (
                    v0[0] * (a[1] * b[2] - a[2] * b[1])
                    - v0[1] * (a[0] * b[2] - a[2] * b[0])
                    + v0[2] * (a[0] * b[1] - a[1] * b[0])
                )
    return abs(vol) / 6.0


# ---------------------------------------------------------------------------
# exact 3-D intersects (puntal / lineal)
# ---------------------------------------------------------------------------


def _fr(p):
    return (Fraction(p[0]), Fraction(p[1]), Fraction(p[2]))


def _sub(a, b):
    return (a[0] - b[0], a[1] - b[1], a[2] - b[2])


def _cross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def _dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


_ZERO3 = (0, 0, 0)


def _pt_on_seg_exact(p, a, b) -> bool:
    ab = _sub(b, a)
    if ab == _ZERO3:
        return p == a
    ap = _sub(p, a)
    if _cross(ab, ap) != _ZERO3:
        return False
    d = _dot(ap, ab)
    return 0 <= d <= _dot(ab, ab)


def _seg_seg_exact(p1, q1, p2, q2) -> bool:
    d1, d2 = _sub(q1, p1), _sub(q2, p2)
    if d1 == _ZERO3:
        return _pt_on_seg_exact(p1, p2, q2) if d2 != _ZERO3 else p1 == p2
    if d2 == _ZERO3:
        return _pt_on_seg_exact(p2, p1, q1)
    r = _sub(p2, p1)
    n = _cross(d1, d2)
    if n != _ZERO3:
        if _dot(n, r) != 0:
            return False  # skew — never touch
        nn = _dot(n, n)
        s = _dot(_cross(r, d2), n)  # s·nn ∈ [0, nn] ⇔ s ∈ [0, 1]
        t = _dot(_cross(r, d1), n)
        return 0 <= s <= nn and 0 <= t <= nn
    # parallel: collinear overlap or disjoint lines
    if _cross(d1, r) != _ZERO3:
        return False
    dd = _dot(d1, d1)
    t0 = _dot(r, d1)
    t1 = t0 + _dot(d2, d1)
    lo, hi = (t0, t1) if t0 <= t1 else (t1, t0)
    return hi >= 0 and lo <= dd


def intersects3d_wkt(a_wkt, b_wkt) -> bool | None:
    """Filtered-exact ST_3DIntersects over puntal / lineal operands."""
    out = Z._closest3d(a_wkt, b_wkt)
    if out is None:
        return None
    d = out[0]
    # d == 0.0 is NOT trusted as contact: the float seg-seg solver can
    # round a ~1e-30 separation to exactly zero — zero falls through
    # to the exact Fraction predicate like any near-contact pair
    pa, pb = Z._prims_3d(a_wkt), Z._prims_3d(b_wkt)
    pts_a, segs_a = pa
    pts_b, segs_b = pb
    scale = 1.0
    for pts, segs in (pa, pb):
        for p in pts:
            scale = max(scale, abs(p[0]), abs(p[1]), abs(p[2]))
        for s, t in segs:
            for p in (s, t):
                scale = max(scale, abs(p[0]), abs(p[1]), abs(p[2]))
    if d > _GUARD * scale:
        return False  # the float kernel's separation is conclusive
    na = len(pts_a) + 2 * len(segs_a)
    nb = len(pts_b) + 2 * len(segs_b)
    if na * nb > _MAX_EXACT_WORK:
        return None  # loud exact-budget fence
    fa_pts = [_fr(p) for p in pts_a]
    fb_pts = [_fr(p) for p in pts_b]
    fa_segs = [(_fr(s), _fr(t)) for s, t in segs_a]
    fb_segs = [(_fr(s), _fr(t)) for s, t in segs_b]
    for p in fa_pts:
        if any(p == q for q in fb_pts):
            return True
        if any(_pt_on_seg_exact(p, s, t) for s, t in fb_segs):
            return True
    for s, t in fa_segs:
        if any(_pt_on_seg_exact(q, s, t) for q in fb_pts):
            return True
        if any(_seg_seg_exact(s, t, u, v) for u, v in fb_segs):
            return True
    return False


# ---------------------------------------------------------------------------
# pandas UDFs + registration
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def st_numpatches(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(num_patches, x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_patchn(w: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([_safe(patch_n, x, i) for x, i in zip(w, n)], dtype="object")


@pandas_udf(DoubleType())
def st_3darea(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(area3d_wkt, x) for x in w], dtype="object")


@pandas_udf(DoubleType())
def st_volume(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(volume_wkt, x) for x in w], dtype="object")


@pandas_udf(BooleanType())
def st_3dintersects(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(intersects3d_wkt, x, y) for x, y in zip(a, b)], dtype="object"
    )


ALL_SURFACE3D_FUNCTIONS = {
    "st_numpatches": st_numpatches,
    "st_patchn": st_patchn,
    "st_3darea": st_3darea,
    "st_volume": st_volume,
    "st_3dintersects": st_3dintersects,
}
