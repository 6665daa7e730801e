"""Differential golden corpus for the WKT reader and writer.

Builds a seeded corpus of WKT inputs and records the output of every
registered ``st_*`` function whose first argument is a geometry. Each
function's Python body (``udf.func``) runs on a pandas Series, so no
Spark job starts. Extra arguments take the fixed values in ``_EXTRA``.

The corpus has three parts:

- every WKT literal in ``tests/`` and in the registry's operator
  modules (the query fixtures);
- generated inputs for every kind x dims x {EMPTY, one part, many
  parts, nested GEOMETRYCOLLECTION};
- mutations of the generated inputs: truncation, a dropped paren, a
  junk token, ``nan``/``inf`` ordinates and an unclosed ring.

Record the golden file (it stores the corpus too, so later edits to
``tests/`` do not move it)::

    python tests/wkt_golden.py

``tests/test_wkt_codec.py`` recomputes the outputs and compares.
"""

from __future__ import annotations

import ast
import gzip
import json
import math
import os
import random
import re
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

GOLDEN = Path(__file__).resolve().parent / "data" / "wkt_golden.json.gz"
UNSTABLE = "<unstable>"
_FULL_CORPUS_S = 1.0
_SLOW_STRIDE = 10

# Functions whose first argument is not a geometry (numbers, GeoJSON,
# GML/KML, geohash, binary, free text or BPE merges).
_NOT_GEOMETRY_FIRST = {
    "st_point", "st_makeenvelope", "st_geomfromgeojson", "st_geomfromgml",
    "st_geomfromkml", "st_relatematch", "st_squaregrid", "st_hexagongrid",
    "st_tileenvelope", "st_pointfromgeohash", "st_geomfromgeohash",
    "st_box2dfromgeohash", "st_square", "st_hexagon", "st_asmvt",
    "st_geomfromwkb", "st_geomfromewkb", "st_sridfromewkb", "st_makepoint",
    "st_pointz", "st_pointm", "st_pointzm", "st_makepointm",
    "st_linefromencodedpolyline", "st_geomfromtwkb",
}

_SQUARE = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
_PT = "POINT (1 1)"
_LINE_Z = "LINESTRING Z (0 0 0, 4 4 4)"
_LINE_M = "LINESTRING M (0 0 0, 10 10 10)"
_SPH = 'SPHEROID["WGS 84",6378137,298.257223563]'

# name -> the fixed values of the arguments after the first
_EXTRA = {
    "st_buffer": (1.0,),
    "st_bufferstyle": (1.0, "quad_segs=2"),
    "st_dwithin": (_SQUARE, 1.0),
    "st_angle": ("POINT (0 1)", "POINT (1 1)", "POINT (2 2)"),
    "st_collectionextract": (3,),
    "st_subdivide": (8,),
    "st_concavehull": (0.5,),
    "st_concavehull_holes": (0.5,),
    "st_split": ("LINESTRING (-1 2, 5 2)",),
    "st_sharedpaths": ("LINESTRING (0 0, 4 0)",),
    "st_project": (1.0, 0.5),
    "st_generatepoints": (3, 7),
    "st_chaikinsmoothing": (1,),
    "st_scroll": ("POINT (4 0)",),
    "st_lineextend": (1.0, 1.0),
    "st_simplify": (0.5,),
    "st_snaptogrid": (0.5,),
    "st_simplifyvw": (0.5,),
    "st_simplifypreservetopology": (0.5,),
    "st_reduceprecision": (0.5,),
    "st_transform": (4326, 3857),
    "st_azimuth": (_PT,),
    "st_translate": (1.0, 2.0),
    "st_scale": (2.0, 3.0),
    "st_rotate": (0.5,),
    "st_affine": (1.0, 0.5, 0.0, 1.0, 2.0, 3.0),
    "st_geometryn": (1,),
    "st_pointn": (1,),
    "st_interiorringn": (1,),
    "st_lineinterpolatepoint": (0.5,),
    "st_linelocatepoint": (_PT,),
    "st_linesubstring": (0.25, 0.75),
    "st_snap": (_SQUARE, 0.5),
    "st_addpoint": (_PT, 1),
    "st_setpoint": (0, _PT),
    "st_removepoint": (0,),
    "st_segmentize": (1.0,),
    "st_expand": (1.0,),
    "st_makeline": (_PT,),
    "st_makepolygon_holes": (["LINESTRING (1 1, 2 1, 2 2, 1 1)"],),
    "st_geohash": (5,),
    "st_offsetcurve": (1.0,),
    "st_offsetcurvestyle": (1.0, "join=mitre"),
    "st_addmeasure": (0.0, 10.0),
    "st_interpolatepoint": (_PT,),
    "st_locatealong": (1.0,),
    "st_locatebetween": (0.5, 2.0),
    "st_lineinterpolatepoints": (0.3, True),
    "st_closestpointofapproach": (_LINE_M,),
    "st_distancecpa": (_LINE_M,),
    "st_cpawithin": (_LINE_M, 5.0),
    "st_distancespheroid": (_PT, _SPH),
    "st_lengthspheroid": (_SPH,),
    "st_projectspheroid": (1000.0, 0.5, _SPH),
    "st_azimuthspheroid": (_PT, _SPH),
    "st_dwithinspheroid": (_PT, 1000.0, _SPH),
    "st_areaspheroid": (_SPH,),
    "st_perimeterspheroid": (_SPH,),
    "st_curvetoline": (4,),
    "st_asmvtgeom": ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", 4096, 256, True),
    "st_asewkb": (4326,),
    "st_force3dz": (5.0,),
    "st_3ddistance": (_LINE_Z,),
    "st_3ddwithin": (_LINE_Z, 2.0),
    "st_3dmaxdistance": (_LINE_Z,),
    "st_3dclosestpoint": (_LINE_Z,),
    "st_3dshortestline": (_LINE_Z,),
    "st_3dlongestline": (_LINE_Z,),
    "st_3dlineinterpolatepoint": (0.5,),
    "st_locatebetweenelevations": (0.5, 2.0),
    "st_patchn": (1,),
    "st_wrapx": (0.0, 360.0),
    "st_quantizecoordinates": (2,),
    "st_clusterkmeans_all": (2,),
    "st_clusterdbscan_all": (1.0, 1),
    "st_clusterwithin": (1.0,),
    "st_pointinsidecircle": (1.0, 1.0, 2.0),
    "st_linecrossingdirection": ("LINESTRING (0 4, 4 0)",),
    "st_simplifypolygonhull": (0.5, True),
    "st_setsrid": (3857,),
    "st_clipbybox2d": ("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",),
    "st_filterbym": (0.5, 2.0),
    "st_makebox2d": (_PT,),
    "st_rotatex": (0.5,),
    "st_rotatey": (0.5,),
    "st_rotatez": (0.5,),
    "st_transscale": (1.0, 2.0, 3.0, 4.0),
    "st_asencodedpolyline": (5,),
    "st_astwkb": (2,),
    "st_extrude": (1.0, 2.0, 3.0),
    "st_assvg": (0, 3),
    "st_aslatlontext": ("D°M'S.SSS\"C",),
}

# Functions whose first argument is an array of geometries: the
# corpus input is the array's first element, the fixed square its
# second.
_ARRAY_FIRST = {
    "st_clusterintersecting", "st_clusterwithin", "st_union_all",
    "st_collect_all", "st_makeline_all", "st_polygonize_all",
    "st_clusterkmeans_all", "st_clusterdbscan_all", "st_3dextent_all",
}


def functions() -> dict:
    """name -> Python body of every registered geometry-first st_* UDF."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import (
        FUNCTION_FAMILIES,
    )

    out = {}
    for family in FUNCTION_FAMILIES:
        for name, udf in family.items():
            if name.startswith("st_") and name not in _NOT_GEOMETRY_FIRST:
                out[name] = udf.func
    return dict(sorted(out.items()))


# --- corpus ---------------------------------------------------------------

_KW = (
    r"(?:MULTIPOLYGON|MULTILINESTRING|MULTIPOINT|POLYGON|LINESTRING|POINT|"
    r"GEOMETRYCOLLECTION|CIRCULARSTRING|COMPOUNDCURVE|CURVEPOLYGON|"
    r"MULTICURVE|MULTISURFACE|POLYHEDRALSURFACE|TIN|TRIANGLE)"
)
_LITERAL_RE = re.compile(rf"^\s*(?:SRID=\d+;\s*)?{_KW}\b", re.I)
_QUOTED_RE = re.compile(r"'([^']*)'")


def _literals() -> list[str]:
    files = sorted((ROOT / "tests").glob("*.py")) + sorted(
        (ROOT / "sql_interface_to_xml_database_for_spatial_operations_spark" / "operators").glob("*.py")
    )
    found = set()
    for path in files:
        if path.name == Path(__file__).name:
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                s = node.value
                for cand in [s, *_QUOTED_RE.findall(s)]:
                    if _LITERAL_RE.match(cand) and len(cand) <= 2000:
                        found.add(cand)
    return sorted(found)


_KINDS = (
    "POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
    "MULTIPOLYGON", "GEOMETRYCOLLECTION",
)
_DIMS = ("", "Z", "M", "ZM")


def _coord(rng, width: int, x: float, y: float) -> str:
    vals = [x, y] + [rng.choice([0, 1.5, -2, 7, 3.25]) for _ in range(width - 2)]
    return " ".join(repr(v) if not float(v).is_integer() else str(int(v)) for v in vals)


def _ring(rng, width: int, ox: float, oy: float, size: float = 4) -> str:
    corners = [(ox, oy), (ox + size, oy), (ox + size, oy + size), (ox, oy + size)]
    cs = [_coord(rng, width, x, y) for x, y in corners]
    return "(" + ", ".join(cs + [cs[0]]) + ")"


def _body(rng, kind: str, width: int, parts: int, off: float = 0) -> str:
    if kind == "POINT":
        return "(" + _coord(rng, width, off + 1, 2) + ")"
    if kind == "LINESTRING":
        return "(" + ", ".join(_coord(rng, width, off + i, i * i % 5) for i in range(parts + 1)) + ")"
    if kind == "POLYGON":
        rings = [_ring(rng, width, off, 0, 10)]
        rings += [_ring(rng, width, off + 1 + 3 * i, 1, 2) for i in range(parts - 1)]
        return "(" + ", ".join(rings) + ")"
    if kind == "MULTIPOINT":
        return "(" + ", ".join("(" + _coord(rng, width, off + i, -i) + ")" for i in range(parts)) + ")"
    if kind == "MULTILINESTRING":
        return "(" + ", ".join(_body(rng, "LINESTRING", width, 2, off + 10 * i) for i in range(parts)) + ")"
    if kind == "MULTIPOLYGON":
        return "(" + ", ".join(_body(rng, "POLYGON", width, 1, off + 20 * i) for i in range(parts)) + ")"
    raise ValueError(kind)


def _generated(rng) -> list[str]:
    out = []
    for kind in _KINDS:
        for dims in _DIMS:
            head = f"{kind} {dims}".strip()
            width = 2 + len(dims)
            out.append(f"{head} EMPTY")
            if kind == "GEOMETRYCOLLECTION":
                members = [
                    f"{k} {dims}".strip() + " " + _body(rng, k, width, 2, 5 * i)
                    for i, k in enumerate(_KINDS[:-1])
                ]
                out.append(f"{head} ({members[0]})")
                out.append(f"{head} (" + ", ".join(members) + ")")
                out.append(f"{head} ({members[1]}, {head} ({members[2]}, {members[0]}))")
                out.append(f"{head} ({members[0]}, {kind} {dims} EMPTY)".replace("  ", " "))
                continue
            one = f"{head} " + _body(rng, kind, width, 1)
            many = f"{head} " + _body(rng, kind, width, 3)
            out += [one, many, f"GEOMETRYCOLLECTION {dims} ({one}, {many})".replace("  ", " ")]
            out.append(f"GEOMETRYCOLLECTION {dims} (GEOMETRYCOLLECTION {dims} ({one}))".replace("  ", " "))
            # untagged text with extra ordinates, and compact tags
            out.append(kind + " " + _body(rng, kind, width, 2))
            if dims:
                out.append(f"{kind}{dims}" + _body(rng, kind, width, 2))
    return out


def _mutations(rng, base: list[str]) -> list[str]:
    out = []
    for s in base:
        if "EMPTY" in s:
            out.append(s.replace("EMPTY", "EMPTY junk"))
            continue
        out.append(s[: max(1, len(s) // 2)])                     # truncation
        out.append(s[:-1])                                       # dropped closing paren
        i = s.find("(")
        out.append(s[: i + 1] + s[i + 2 :] if s[i + 1] == "(" else s.replace("(", "", 1))
        j = rng.randrange(i, len(s))
        out.append(s[:j] + " junk " + s[j:])                     # junk token
        nums = list(re.finditer(r"-?\d+(?:\.\d+)?", s))
        if nums:
            k = rng.choice(nums)
            out.append(s[: k.start()] + rng.choice(["nan", "inf", "-inf", "NaN"]) + s[k.end() :])
        if "POLYGON" in s:
            # unclosed ring: move the ring's closing vertex
            out.append(re.sub(r"\)\)", " 9)) ", s, count=1).replace(" 9)) ", ", 9 9))", 1))
    return out


def build_corpus(seed: int = 20261020) -> list[str]:
    rng = random.Random(seed)
    gen = _generated(rng)
    corpus = _literals() + gen + _mutations(rng, gen)
    corpus += ["", "   ", "EMPTY", "POINT", "POINT ()", "POINT (1)", "POINT (1 2 3 4 5)"]
    seen, out = set(), []
    for s in corpus:
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


# --- outputs --------------------------------------------------------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm(x) for x in v]
    if v is pd.NA or v is pd.NaT:
        return None
    return str(v)


def _series(name: str, corpus: list[str], pos: int, value):
    n = len(corpus)
    if pos == 0:
        if name in _ARRAY_FIRST:
            return pd.Series([[w, _SQUARE] for w in corpus], dtype=object)
        return pd.Series(corpus, dtype=object)
    return pd.Series([value] * n, dtype=object)


def _call(fn, name: str, corpus: list[str]) -> list:
    extra = _EXTRA.get(name, ())
    if name in _ARRAY_FIRST:
        args = [_series(name, corpus, 0, None)] + [_series(name, corpus, i + 1, v) for i, v in enumerate(extra)]
    else:
        nparams = fn.__code__.co_argcount
        if not extra and nparams == 2:
            extra = (_SQUARE,)
        args = [_series(name, corpus, 0, None)] + [_series(name, corpus, i + 1, v) for i, v in enumerate(extra)]
    try:
        res = fn(*args)
        return [_norm(v) for v in list(res)]
    except Exception:
        out = []
        for i in range(len(corpus)):
            try:
                r = fn(*[a.iloc[i : i + 1].reset_index(drop=True) for a in args])
                out.append(_norm(list(r)[0]))
            except Exception as e:  # the whole batch would fail the query
                out.append(f"<raise {type(e).__name__}>")
        return out


def compute(corpus: list[str], strides: dict | None = None) -> dict:
    """name -> outputs over ``corpus[::stride]`` (stride 1 by default)."""
    strides = strides or {}
    return {
        name: _call(fn, name, corpus[:: strides.get(name, 1)])
        for name, fn in functions().items()
    }


def _timed(corpus: list[str]) -> tuple[dict, dict]:
    outputs, seconds = {}, {}
    for name, fn in functions().items():
        t0 = time.perf_counter()
        outputs[name] = _call(fn, name, corpus)
        seconds[name] = time.perf_counter() - t0
    return outputs, seconds


def load_golden() -> dict:
    with gzip.open(GOLDEN, "rt") as fh:
        return json.load(fh)


def main() -> None:
    import subprocess

    def run(mode: str, payload, hash_seed: str):
        env = dict(os.environ, PYTHONHASHSEED=hash_seed)
        out = subprocess.run(
            [sys.executable, __file__, mode],
            input=json.dumps(payload), capture_output=True, text=True, env=env, check=True,
        ).stdout
        return json.loads(out)

    corpus = build_corpus()
    full, seconds = run("--timed", corpus, "1")
    # Kernels slower than _FULL_CORPUS_S over the whole corpus keep the
    # test inside its time budget on every _SLOW_STRIDE-th input.
    strides = {n: _SLOW_STRIDE for n, s in seconds.items() if s > _FULL_CORPUS_S}
    a = {n: v[:: strides.get(n, 1)] for n, v in full.items()}
    b = run("--compute", [corpus, strides], "2")
    outputs = {
        name: [x if x == y else UNSTABLE for x, y in zip(a[name], b[name])]
        for name in a
    }
    GOLDEN.parent.mkdir(exist_ok=True)
    with gzip.open(GOLDEN, "wt", compresslevel=9) as fh:
        json.dump(
            {"corpus": corpus, "strides": strides, "outputs": outputs},
            fh, separators=(",", ":"),
        )
    unstable = sum(v == UNSTABLE for vs in outputs.values() for v in vs)
    print(
        f"{len(corpus)} inputs x {len(outputs)} functions ({len(strides)} strided),"
        f" {unstable} unstable -> {GOLDEN}"
    )


if __name__ == "__main__":
    mode = sys.argv[1:]
    if mode == ["--timed"]:
        json.dump(_timed(json.loads(sys.stdin.read())), sys.stdout)
    elif mode == ["--compute"]:
        corpus, strides = json.loads(sys.stdin.read())
        json.dump(compute(corpus, strides), sys.stdout)
    else:
        main()
