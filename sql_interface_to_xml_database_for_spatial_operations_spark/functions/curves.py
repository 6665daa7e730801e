"""Curved-geometry linearization: CIRCULARSTRING parsing and
ST_CurveToLine (F12 remainder, r14 continuation — PostGIS accepts
curve WKT everywhere and the reference forwards it verbatim,
src/index.ts:44-63; this engine's 2-D kernel is linear-only, so curves
enter THROUGH this module and leave as plain LINESTRINGs).

- ``st_curvetoline(wkt, quad_segs)`` — linearize a
  ``CIRCULARSTRING (p0, p1, p2, p3, p4, …)`` (odd vertex count ≥ 3;
  consecutive point triples are arcs: p0→p2 through p1, p2→p4 through
  p3). Each arc's circle is the triple's circumcircle; the sweep runs
  from the start angle THROUGH the middle point to the end, in the
  triple's orientation; a collinear triple degenerates to its two
  straight segments (PostGIS behavior). Arc points are emitted at
  ``quad_segs`` segments per quarter turn (PostGIS's default
  tolerance-as-segments mode uses 32); every arc's ENDPOINT is set to
  the input vertex exactly, so chains stay closed and symmetric
  integer fixtures produce exact output strings. Plain LINESTRING
  input echoes (already linear); LINESTRING EMPTY echoes.
- ``COMPOUNDCURVE (member, …)`` (r15 — VERDICT r14 missing item 3):
  members are CIRCULARSTRING segments or bare ``(x y, …)`` straight
  chains; consecutive members must share their junction vertex
  EXACTLY (SQL/MM's continuity rule — PostGIS rejects gaps too), and
  the spliced result is one LINESTRING with exact shared endpoints.
- ``CURVEPOLYGON (ring, …)`` (r15): rings are CIRCULARSTRINGs,
  COMPOUNDCURVEs, or bare linear rings; each linearized ring must
  close with ≥ 4 vertices, then the plain polygon kernel takes over —
  the output is an ordinary POLYGON. Unclosed / discontinuous rings
  are a loud NULL.
- ``MULTICURVE (member, …)`` / ``MULTISURFACE (member, …)`` (r15
  continuation): members (bare chains / CIRCULARSTRINGs /
  COMPOUNDCURVEs; bare ``((ring))`` polygons / CURVEPOLYGONs)
  linearize independently into MULTILINESTRING / MULTIPOLYGON parts;
  a puntal or unreadable member poisons the row — loud NULL.
- ``quad_segs`` outside [1, buffer._MAX_QUAD_SEGS] → loud NULL (the
  shared arc fan-out budget).

Map-only Arrow-batched pandas UDF; per-row O(arcs · quad_segs).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .buffer import _MAX_QUAD_SEGS
from .cells import _int_arg
from .geometry import Geometry
from .wkt import _split_top

_CS_RE = re.compile(r"^\s*CIRCULARSTRING\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL)
_EMPTY_LINEAL_RE = re.compile(
    r"^\s*(MULTI)?LINESTRING\s+EMPTY\s*$", re.IGNORECASE
)
_MAX_CS_VERTICES = 4096  # input budget (loud NULL, the measures idiom)
_MAX_OUT_POINTS = 65536  # arc fan-out budget (grids._MAX_CELLS idiom)


def parse_circularstring(wkt) -> list | None:
    """Vertex list of a CIRCULARSTRING (odd count ≥ 3), or None."""
    if wkt is None:
        return None
    m = _CS_RE.match(str(wkt))
    if not m:
        return None
    body = m.group(1)
    if body.upper() == "EMPTY":
        return []
    pts = []
    for tok in body[1:-1].split(","):
        parts = tok.split()
        if len(parts) != 2:
            return None
        try:
            x, y = float(parts[0]), float(parts[1])
        except ValueError:
            return None
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        pts.append((x, y))
    if len(pts) < 3 or len(pts) % 2 == 0:
        return None
    return pts


def _circumcenter(a, b, c):
    d = 2.0 * (
        a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1])
    )
    if d == 0.0:
        return None  # collinear
    a2 = a[0] * a[0] + a[1] * a[1]
    b2 = b[0] * b[0] + b[1] * b[1]
    c2 = c[0] * c[0] + c[1] * c[1]
    ux = (a2 * (b[1] - c[1]) + b2 * (c[1] - a[1]) + c2 * (a[1] - b[1])) / d
    uy = (a2 * (c[0] - b[0]) + b2 * (a[0] - c[0]) + c2 * (b[0] - a[0])) / d
    return (ux, uy)


def _arc_points(a, b, c, quad_segs):
    """Linearized arc a→c through b, endpoint exact; start excluded."""
    if a == c:
        # the PostGIS full-circle form: p0 == p2 with p1 diametrically
        # opposite — the circle has diameter a→b; swept CCW (the
        # direction is geometrically ambiguous; pinned convention)
        if b == a:
            return [c]
        o = ((a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0)
        r = math.hypot(b[0] - a[0], b[1] - a[1]) / 2.0
        ta = math.atan2(a[1] - o[1], a[0] - o[0])
        two_pi = 2.0 * math.pi
        m = max(1, math.ceil(two_pi / (math.pi / 2.0 / quad_segs)))
        out = [
            (o[0] + r * math.cos(ta + two_pi * k / m),
             o[1] + r * math.sin(ta + two_pi * k / m))
            for k in range(1, m)
        ]
        out.append(c)
        return out
    o = _circumcenter(a, b, c)
    if o is None:
        # collinear arc degenerates to the two straight segments
        return [b, c] if b != a and b != c else [c]
    r = math.hypot(a[0] - o[0], a[1] - o[1])
    ta = math.atan2(a[1] - o[1], a[0] - o[0])
    tb = math.atan2(b[1] - o[1], b[0] - o[0])
    tc = math.atan2(c[1] - o[1], c[0] - o[0])
    # orientation of the triple decides the sweep direction
    orient = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    d = 1.0 if orient > 0 else -1.0
    two_pi = 2.0 * math.pi
    dac = (d * (tc - ta)) % two_pi
    if dac == 0.0:
        dac = two_pi  # full circle back to the start point
    sweep = d * dac
    m = max(1, math.ceil(abs(sweep) / (math.pi / 2.0 / quad_segs)))
    out = [
        (o[0] + r * math.cos(ta + sweep * k / m),
         o[1] + r * math.sin(ta + sweep * k / m))
        for k in range(1, m)
    ]
    out.append(c)  # exact endpoint — chains stay closed
    return out


def _cs_chain(pts, qs) -> list | None:
    """Linearized point chain of a CIRCULARSTRING vertex list —
    consecutive duplicates collapsed, budgets enforced."""
    if len(pts) > _MAX_CS_VERTICES:
        return None  # input budget — loud
    out = [pts[0]]
    for i in range(0, len(pts) - 2, 2):
        out.extend(_arc_points(pts[i], pts[i + 1], pts[i + 2], qs))
        if len(out) > _MAX_OUT_POINTS:
            return None  # arc fan-out budget — loud, checked per arc
    dedup = [out[0]]
    for p in out[1:]:
        if p != dedup[-1]:
            dedup.append(p)
    return dedup


def _bare_chain(tok: str) -> list | None:
    """A bare '(x y, x y, …)' straight-segment member."""
    if not (tok.startswith("(") and tok.endswith(")")):
        return None
    pts = []
    for t in tok[1:-1].split(","):
        parts = t.split()
        if len(parts) != 2:
            return None
        try:
            x, y = float(parts[0]), float(parts[1])
        except ValueError:
            return None
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        pts.append((x, y))
    return pts if len(pts) >= 2 else None


def _member_chain(tok: str, qs) -> list | None:
    """Linearized chain of one COMPOUNDCURVE member."""
    if tok.upper().startswith("CIRCULARSTRING"):
        pts = parse_circularstring(tok)
        if not pts:
            return None  # EMPTY members are not spliceable
        return _cs_chain(pts, qs)
    return _bare_chain(tok)


_CC_RE = re.compile(
    r"^\s*COMPOUNDCURVE\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL
)
_CP_RE = re.compile(
    r"^\s*CURVEPOLYGON\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL
)
_MC_RE = re.compile(
    r"^\s*MULTICURVE\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL
)
_MS_RE = re.compile(
    r"^\s*MULTISURFACE\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL
)


def _compound_chain(body: str, qs) -> list | None:
    """Spliced chain of a COMPOUNDCURVE body '(member, member, …)' —
    None unless every junction vertex matches EXACTLY."""
    toks = _split_top(body[1:-1])
    chain = None
    for tok in toks:
        part = _member_chain(tok, qs)
        if part is None:
            return None
        if chain is None:
            chain = list(part)
        else:
            if chain[-1] != part[0]:
                return None  # discontinuous — SQL/MM continuity rule
            chain.extend(part[1:])
        if len(chain) > _MAX_OUT_POINTS:
            return None
    return chain if chain and len(chain) >= 2 else None


def _ring_chain(tok: str, qs) -> list | None:
    """Linearized CLOSED ring of one CURVEPOLYGON ring token."""
    up = tok.upper()
    if up.startswith("CIRCULARSTRING"):
        pts = parse_circularstring(tok)
        ring = _cs_chain(pts, qs) if pts else None
    elif up.startswith("COMPOUNDCURVE"):
        m = _CC_RE.match(tok)
        if not m or m.group(1).upper() == "EMPTY":
            return None
        ring = _compound_chain(m.group(1), qs)
    else:
        ring = _bare_chain(tok)
    if ring is None or len(ring) < 4 or ring[0] != ring[-1]:
        return None  # unclosed or degenerate — loud
    return ring


def curvetoline_wkt(wkt, quad_segs) -> str | None:
    if wkt is None:
        return None
    qs = _int_arg(quad_segs)  # fractional quad_segs → loud NULL
    if qs is None or not 1 <= qs <= _MAX_QUAD_SEGS:
        return None
    s = str(wkt).strip()
    pts = parse_circularstring(s)
    if pts is not None:
        if not pts:
            return "LINESTRING EMPTY"
        dedup = _cs_chain(pts, qs)
        if dedup is None or len(dedup) < 2:
            return None
        return G.to_wkt(Geometry("LineString", tuple(dedup)))
    m = _CC_RE.match(s)
    if m:
        if m.group(1).upper() == "EMPTY":
            return "LINESTRING EMPTY"
        chain = _compound_chain(m.group(1), qs)
        if chain is None:
            return None
        return G.to_wkt(Geometry("LineString", tuple(chain)))
    m = _CP_RE.match(s)
    if m:
        if m.group(1).upper() == "EMPTY":
            return "POLYGON EMPTY"
        toks = _split_top(m.group(1)[1:-1])
        rings = []
        for tok in toks:
            ring = _ring_chain(tok, qs)
            if ring is None:
                return None
            rings.append(tuple(ring))
        return G.to_wkt(Geometry("Polygon", tuple(rings)))
    m = _MC_RE.match(s)
    if m:
        # MULTICURVE: members are bare chains / CIRCULARSTRINGs /
        # COMPOUNDCURVEs, each linearized into one MULTILINESTRING part
        if m.group(1).upper() == "EMPTY":
            return "MULTILINESTRING EMPTY"
        toks = _split_top(m.group(1)[1:-1])
        chains: list = []
        total = 0
        for tok in toks:
            if tok.upper().startswith("COMPOUNDCURVE"):
                mm = _CC_RE.match(tok)
                if not mm or mm.group(1).upper() == "EMPTY":
                    return None
                part = _compound_chain(mm.group(1), qs)
            else:
                part = _member_chain(tok, qs)
            if part is None or len(part) < 2:
                return None
            total += len(part)
            if total > _MAX_OUT_POINTS:
                return None
            chains.append(tuple(part))
        return G.to_wkt(Geometry("MultiLineString", tuple(chains)))
    m = _MS_RE.match(s)
    if m:
        # MULTISURFACE: POLYGON / CURVEPOLYGON members → MULTIPOLYGON
        if m.group(1).upper() == "EMPTY":
            return "MULTIPOLYGON EMPTY"
        toks = _split_top(m.group(1)[1:-1])
        polys: list = []
        total = 0
        for tok in toks:
            up2 = tok.upper()
            if up2.startswith("CURVEPOLYGON"):
                mm = _CP_RE.match(tok)
                if not mm or mm.group(1).upper() == "EMPTY":
                    return None
                ring_toks = _split_top(mm.group(1)[1:-1])
                rings = []
                for rt in ring_toks:
                    ring = _ring_chain(rt, qs)
                    if ring is None:
                        return None
                    total += len(ring)
                    if total > _MAX_OUT_POINTS:
                        return None
                    rings.append(tuple(ring))
                polys.append(tuple(rings))
            elif up2.startswith("POLYGON") or up2.startswith("(("):
                # plain members are the bare '((ring), …)' form in
                # SQL/MM WKT; the POLYGON-keyword spelling also reads
                g = G.parse_wkt(
                    tok if up2.startswith("POLYGON") else "POLYGON " + tok
                )
                if g is None or g.kind != "Polygon" or not g.coords:
                    return None
                total += sum(len(r) for r in g.coords)
                if total > _MAX_OUT_POINTS:
                    return None
                polys.append(tuple(tuple(tuple(p) for p in r) for r in g.coords))
            else:
                return None
        return G.to_wkt(Geometry("MultiPolygon", tuple(polys)))
    # already-linear input echoes through the 2-D kernel
    m = _EMPTY_LINEAL_RE.match(s)
    if m:
        # canonical form regardless of input case
        return ("MULTI" if m.group(1) else "") + "LINESTRING EMPTY"
    up = s.upper()
    if up.startswith("LINESTRING") or up.startswith("MULTILINESTRING"):
        g = G.parse_wkt(s)
        return None if g is None else G.to_wkt(g)
    return None  # MULTICURVE/MULTISURFACE etc. — documented


@pandas_udf(StringType())
def st_curvetoline(wkt: pd.Series, quad_segs: pd.Series) -> pd.Series:
    out = []
    for w, q in zip(wkt, quad_segs):
        try:
            out.append(
                None
                if q is None or (isinstance(q, float) and math.isnan(q))
                else curvetoline_wkt(w, q)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


# --- structural curved parse (r16): the WKB encoder's view ---------------
#
# The linearizer above CONSUMES curved text; the WKB codec also needs
# the raw structure (rings/components as trees, not chains) to encode
# SQL/MM type codes 8-12. Validation delegates to the linearizer: a
# structure it cannot read back (discontinuous compound, unclosed
# ring) must not encode either.


def _node_of(tok: str):
    """('CircularString'|'LineString'|'CompoundCurve', payload) of one
    member/ring token; None when malformed or EMPTY-in-member."""
    up = tok.upper()
    if up.startswith("CIRCULARSTRING"):
        pts = parse_circularstring(tok)
        return ("CircularString", pts) if pts else None
    if up.startswith("COMPOUNDCURVE"):
        m = _CC_RE.match(tok)
        if not m or m.group(1).upper() == "EMPTY":
            return None
        toks = _split_top(m.group(1)[1:-1])
        comps = []
        for t in toks:
            if t.upper().startswith("CIRCULARSTRING"):
                pts = parse_circularstring(t)
                if not pts:
                    return None
                comps.append(("CircularString", pts))
            else:
                pts = _bare_chain(t)
                if pts is None:
                    return None
                comps.append(("LineString", pts))
        return ("CompoundCurve", comps)
    pts = _bare_chain(tok)
    return None if pts is None else ("LineString", pts)


def parse_curved(wkt):
    """(kind, payload) structural tree of a curved WKT (module comment
    above), or None for non-curved/malformed input. Non-empty
    structures additionally validate through the linearizer so only
    readable geometry encodes."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    up = s.upper()
    out = None
    if up.startswith("CIRCULARSTRING"):
        pts = parse_circularstring(s)
        if pts is None:
            return None
        out = ("CircularString", pts)
    elif _CC_RE.match(s):
        body = _CC_RE.match(s).group(1)
        if body.upper() == "EMPTY":
            return ("CompoundCurve", [])
        out = _node_of(s)
    elif _CP_RE.match(s):
        body = _CP_RE.match(s).group(1)
        if body.upper() == "EMPTY":
            return ("CurvePolygon", [])
        toks = _split_top(body[1:-1])
        rings = [_node_of(t) for t in toks]
        if any(r is None for r in rings):
            return None
        out = ("CurvePolygon", rings)
    elif _MC_RE.match(s):
        body = _MC_RE.match(s).group(1)
        if body.upper() == "EMPTY":
            return ("MultiCurve", [])
        toks = _split_top(body[1:-1])
        members = [_node_of(t) for t in toks]
        if any(m is None for m in members):
            return None
        out = ("MultiCurve", members)
    elif _MS_RE.match(s):
        body = _MS_RE.match(s).group(1)
        if body.upper() == "EMPTY":
            return ("MultiSurface", [])
        toks = _split_top(body[1:-1])
        members = []
        for t in toks:
            tu = t.upper()
            if tu.startswith("CURVEPOLYGON"):
                sub = parse_curved(t)
                if sub is None or not sub[1]:
                    return None
                members.append(sub)
            else:
                g = G.parse_wkt(
                    t if tu.startswith("POLYGON") else "POLYGON " + t
                )
                if g is None or g.kind != "Polygon" or not g.coords:
                    return None
                members.append(("Polygon", g.coords))
        out = ("MultiSurface", members)
    if out is None:
        return None
    if out[1] and curvetoline_wkt(s, 1) is None:
        return None  # discontinuous/unclosed: the linearizer's verdict
    return out


# --- ST_LineToCurve: arc recognition, the linearizer's inverse (r16) ----
#
# PostGIS lwgeom "unstroking": find maximal runs of ≥ 5 consecutive
# vertices on a common circle with a consistent turn direction and
# replace each run with a 3-point CIRCULARSTRING (first, an interior
# vertex, last — any interior point on the circle defines the same
# arc). Runs that never materialize leave the chain as straight
# segments; a mixed chain emits COMPOUNDCURVE, a pure arc emits
# CIRCULARSTRING, rings emit CURVEPOLYGON, multis map member-wise
# (MULTICURVE / MULTISURFACE). Collinear vertices (no circumcenter)
# and circle deviations beyond a 1e-9 RELATIVE radius tolerance break
# the run — exact lattice circles (3-4-5 style points) and linearizer
# output both recognize cleanly. The 5-vertex minimum keeps TRIANGLE
# rings (every triangle is cyclic) and lone quadrilateral chains out;
# a cyclic 5-vertex figure (e.g. a closed square ring — byte-identical
# to CurveToLine(circle, quad_segs=1)) DOES unstroke, which is the
# inherent ambiguity of the contract, shared with PostGIS.

_LTC_REL_TOL = 1e-9
_LTC_MIN_RUN = 5  # vertices (4 segments)


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _arc_run_end(pts, i: int) -> tuple[int, tuple] | None:
    """(j, center): the maximal run pts[i:j] on one circle with a
    consistent turn direction, or None when no run of _LTC_MIN_RUN
    starts at i."""
    n = len(pts)
    if i + _LTC_MIN_RUN > n:
        return None
    c = _circumcenter(pts[i], pts[i + 1], pts[i + 2])
    if c is None:
        return None
    r = math.hypot(pts[i][0] - c[0], pts[i][1] - c[1])
    if r == 0.0:
        return None
    turn = _cross(pts[i], pts[i + 1], pts[i + 2])
    if turn == 0.0:
        return None
    j = i + 3
    while j < n:
        p = pts[j]
        if abs(math.hypot(p[0] - c[0], p[1] - c[1]) - r) > _LTC_REL_TOL * r:
            break
        t2 = _cross(pts[j - 2], pts[j - 1], p)
        if t2 == 0.0 or (t2 > 0) != (turn > 0):
            break
        j += 1
    if j - i < _LTC_MIN_RUN:
        return None
    return j, c


def _unstroke_chain(pts):
    """[('L', [pts]) | ('A', (p0, p_mid, p1))] parts of one chain;
    None-free. Returns None-shaped [] only for degenerate input."""
    parts = []
    line_run = [pts[0]]
    i = 0
    n = len(pts)
    while i < n - 1:
        hit = _arc_run_end(pts, i)
        if hit is not None:
            j, _c = hit
            run = pts[i:j]
            if len(line_run) > 1:
                parts.append(("L", line_run))
            if run[0] == run[-1]:
                # a closed full circle: split into two arcs (the
                # 3-point form needs distinct endpoints)
                q = (len(run) - 1) // 2
                h1, h2 = run[: q + 1], run[q:]
                parts.append(("A", (h1[0], h1[len(h1) // 2], h1[-1])))
                parts.append(("A", (h2[0], h2[len(h2) // 2], h2[-1])))
            else:
                parts.append(("A", (run[0], run[(len(run) - 1) // 2], run[-1])))
            line_run = [run[-1]]
            i = j - 1
        else:
            line_run.append(pts[i + 1])
            i += 1
    if len(line_run) > 1:
        parts.append(("L", line_run))
    return parts


def _pt_txt(p) -> str:
    return f"{G._fmt(p[0])} {G._fmt(p[1])}"


def _chain_txt(parts, pure_line_kind: str) -> str:
    """Curved text of one chain's parts: pure line → canonical
    ``pure_line_kind`` body, pure arc → CIRCULARSTRING, mixed →
    COMPOUNDCURVE."""
    if all(k == "L" for k, _ in parts):
        pts = parts[0][1] if parts else []
        body = ", ".join(_pt_txt(p) for p in pts)
        return f"{pure_line_kind} ({body})"
    if len(parts) == 1 and parts[0][0] == "A":
        a, m, b = parts[0][1]
        return (
            f"CIRCULARSTRING ({_pt_txt(a)}, {_pt_txt(m)}, {_pt_txt(b)})"
        )
    comps = []
    for k, payload in parts:
        if k == "L":
            comps.append("(" + ", ".join(_pt_txt(p) for p in payload) + ")")
        else:
            a, m, b = payload
            comps.append(
                f"CIRCULARSTRING ({_pt_txt(a)}, {_pt_txt(m)}, {_pt_txt(b)})"
            )
    return "COMPOUNDCURVE (" + ", ".join(comps) + ")"


def _ring_curved_txt(ring) -> tuple[str, bool]:
    """(text form usable as a CURVEPOLYGON ring, had_arcs)."""
    parts = _unstroke_chain(list(ring))
    if all(k == "L" for k, _ in parts):
        return "(" + ", ".join(_pt_txt(p) for p in ring) + ")", False
    if len(parts) == 1 and parts[0][0] == "A":
        a, m, b = parts[0][1]
        return (
            f"CIRCULARSTRING ({_pt_txt(a)}, {_pt_txt(m)}, {_pt_txt(b)})",
            True,
        )
    return _chain_txt(parts, "LINESTRING"), True


def linetocurve_wkt(wkt) -> str | None:
    """ST_LineToCurve (module comment above): lineal input → curved
    lineal text, areal input → CURVEPOLYGON/MULTISURFACE when any ring
    carries an arc; inputs with nothing to unstroke echo canonically.
    Puntal/collection input is a loud NULL (PostGIS accepts any type;
    the engine's curved model is lineal/areal only — documented)."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _EMPTY_LINEAL_RE.match(s)
    if m:
        return ("MULTI" if m.group(1) else "") + "LINESTRING EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind == "LineString":
        return _chain_txt(_unstroke_chain(list(g.coords)), "LINESTRING")
    if g.kind == "MultiLineString":
        members = [
            _chain_txt(_unstroke_chain(list(ch)), "bare")
            for ch in g.coords
        ]
        # bare chains inside MULTICURVE keep the SQL/MM member form
        members = [
            t[len("bare ") :] if t.startswith("bare (") else t
            for t in members
        ]
        if all(t.startswith("(") for t in members):
            return G.to_wkt(g)  # nothing unstroked: canonical echo
        return "MULTICURVE (" + ", ".join(members) + ")"
    if g.kind == "Polygon":
        rings = [_ring_curved_txt(r) for r in g.coords]
        if not any(h for _, h in rings):
            return G.to_wkt(g)
        return "CURVEPOLYGON (" + ", ".join(t for t, _ in rings) + ")"
    if g.kind == "MultiPolygon":
        out = []
        any_arc = False
        for rings in g.coords:
            rr = [_ring_curved_txt(r) for r in rings]
            any_arc = any_arc or any(h for _, h in rr)
            if any(h for _, h in rr):
                out.append(
                    "CURVEPOLYGON (" + ", ".join(t for t, _ in rr) + ")"
                )
            else:
                out.append("(" + ", ".join(t for t, _ in rr) + ")")
        if not any_arc:
            return G.to_wkt(g)
        return "MULTISURFACE (" + ", ".join(out) + ")"
    return None


@pandas_udf(StringType())
def st_linetocurve(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(linetocurve_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_CURVE_FUNCTIONS = {
    "st_curvetoline": st_curvetoline,
    "st_linetocurve": st_linetocurve,
}
