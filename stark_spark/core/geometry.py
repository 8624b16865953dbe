"""Pure-numpy planar geometry kernel (no Shapely in this environment).

Re-implements, from public OGC semantics, the geometry surface the
reference gets from JTS (`/root/reference/dbis/stark/STObject.scala:209-233`
uses `org.locationtech.jts.geom.Geometry` + WKT reader): POINT,
LINESTRING, POLYGON (+ MULTI variants), WKT/WKB codecs, bounding boxes,
the OGC predicates intersects / contains / covers (+ inverses), and
euclidean distance.

Two usage shapes:

* scalar ``Geometry`` objects — query constants, driver-side planning;
* **vectorized kernels** (``points_in_polygon``, ``points_dist_to_geom``)
  — many points against one fixed geometry, the hot path inside Arrow
  pandas UDFs (the data tables are point-dominated; query geometries
  are constants).

Boundary semantics follow OGC/JTS: ``contains(a,b)`` requires an
interior∩interior point (a point on a polygon's boundary is *covered*
but not *contained*); ``covers(a,b)`` only requires b ⊆ closure(a).
"""

from __future__ import annotations

import math
import re
import struct
from typing import Iterable

import numpy as np

__all__ = [
    "Geometry", "from_wkt", "to_wkt", "from_wkb", "to_wkb", "bbox",
    "point", "box", "intersects", "contains", "covers", "distance",
    "points_in_polygon", "points_dist_to_geom", "decode_points",
]

_WKB_TYPES = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3,
              "MULTIPOINT": 4, "MULTILINESTRING": 5, "MULTIPOLYGON": 6}
_WKB_NAMES = {v: k for k, v in _WKB_TYPES.items()}

_EPS = 1e-12


class Geometry:
    """Immutable planar geometry (+ optional Z side-car).

    ``coords``: POINT → (2,) ndarray; LINESTRING → (n,2) ndarray;
    POLYGON → list of closed (first==last) (n,2) rings, ring 0 = shell;
    MULTI* → list of child ``Geometry``.

    ``z`` (reference `STObject.scala:95-100, 247-248`: JTS carries Z but
    all predicates are planar — we match that): POINT → float;
    LINESTRING → (n,) ndarray; POLYGON → list of (n,) per ring;
    MULTI* → children carry their own. None ⇒ 2-D.
    """

    __slots__ = ("kind", "coords", "z", "_bbox")

    def __init__(self, kind: str, coords, z=None):
        self.kind = kind
        self.coords = coords
        self.z = z
        self._bbox = None

    # -- structural helpers -------------------------------------------------
    def parts(self) -> list["Geometry"]:
        if self.kind.startswith("MULTI"):
            return self.coords
        return [self]

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        if self._bbox is None:
            if self.kind == "POINT":
                x, y = float(self.coords[0]), float(self.coords[1])
                self._bbox = (x, y, x, y)
            elif self.kind == "LINESTRING":
                c = self.coords
                self._bbox = (float(c[:, 0].min()), float(c[:, 1].min()),
                              float(c[:, 0].max()), float(c[:, 1].max()))
            elif self.kind == "POLYGON":
                c = self.coords[0]
                self._bbox = (float(c[:, 0].min()), float(c[:, 1].min()),
                              float(c[:, 0].max()), float(c[:, 1].max()))
            else:
                bs = [p.bbox for p in self.coords]
                self._bbox = (min(b[0] for b in bs), min(b[1] for b in bs),
                              max(b[2] for b in bs), max(b[3] for b in bs))
        return self._bbox

    @property
    def zrange(self) -> tuple[float, float] | None:
        """(minZ, maxZ) over all coordinates (`STObject.getMinZ/getMaxZ`,
        STObject.scala:99-100); None for 2-D geometries."""
        if self.kind.startswith("MULTI"):
            rs = [p.zrange for p in self.coords]
            rs = [r for r in rs if r is not None]
            if not rs:
                return None
            return (min(r[0] for r in rs), max(r[1] for r in rs))
        if self.z is None:
            return None
        if self.kind == "POINT":
            return (float(self.z), float(self.z))
        if self.kind == "LINESTRING":
            return (float(np.min(self.z)), float(np.max(self.z)))
        zs = np.concatenate(self.z)
        return (float(zs.min()), float(zs.max()))

    def convex_ring(self) -> np.ndarray | None:
        """For a single-ring convex POLYGON: the closed ring oriented
        counter-clockwise; None otherwise. Lets predicate builders
        compile point-in-polygon into a native half-plane conjunction
        (no UDF)."""
        if self.kind != "POLYGON" or len(self.coords) != 1:
            return None
        ring = self.coords[0]
        if len(ring) < 4:
            return None
        a = ring[:-1]
        b = ring[1:]
        # signed area (shoelace) for orientation
        area2 = float(np.sum(a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]))
        if area2 < 0:
            ring = ring[::-1].copy()
            a, b = ring[:-1], ring[1:]
        # convex iff every consecutive cross product is >= 0 (CCW)
        c = np.roll(b, -1, axis=0)
        cross = ((b[:, 0] - a[:, 0]) * (c[:, 1] - b[:, 1]) -
                 (b[:, 1] - a[:, 1]) * (c[:, 0] - b[:, 0]))
        if (cross < 0).any():
            return None
        return ring

    def is_rectangle(self) -> bool:
        """True iff a POLYGON is exactly its own bbox (axis-aligned box).

        Lets predicate builders skip the exact-refine UDF entirely: for a
        rectangle query the native bbox column test IS the exact test for
        point data.
        """
        if self.kind != "POLYGON" or len(self.coords) != 1:
            return False
        ring = self.coords[0]
        if len(ring) != 5:
            return False
        xmin, ymin, xmax, ymax = self.bbox
        want = {(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)}
        got = {(float(x), float(y)) for x, y in ring[:4]}
        return got == want

    def __repr__(self):
        return f"<Geometry {to_wkt(self)[:60]}>"

    def __eq__(self, other):
        return isinstance(other, Geometry) and to_wkb(self) == to_wkb(other)

    def __hash__(self):
        return hash(to_wkb(self))


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------

def point(x: float, y: float, z: float | None = None) -> Geometry:
    return Geometry("POINT", np.array([x, y], dtype=np.float64),
                    z=None if z is None else float(z))


def box(xmin: float, ymin: float, xmax: float, ymax: float) -> Geometry:
    ring = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax],
                     [xmin, ymax], [xmin, ymin]], dtype=np.float64)
    return Geometry("POLYGON", [ring])


def bbox(g: Geometry) -> tuple[float, float, float, float]:
    return g.bbox


# ---------------------------------------------------------------------------
# WKT codec
# ---------------------------------------------------------------------------


def _parse_ring_text(txt: str) -> np.ndarray:
    """Parse a coordinate run → (n, 2) or (n, 3) float array (the third
    column is Z when every coordinate carries one)."""
    pts = []
    width = None
    for pair in txt.split(","):
        vals = pair.split()
        w = 3 if len(vals) >= 3 else 2
        width = w if width is None else min(width, w)
        pts.append(tuple(float(v) for v in vals[:3]))
    if width == 2:
        pts = [p[:2] for p in pts]
    return np.array(pts, dtype=np.float64)


def _split_z(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray | None]:
    if arr.ndim == 2 and arr.shape[1] == 3:
        return np.ascontiguousarray(arr[:, :2]), np.ascontiguousarray(arr[:, 2])
    return arr, None


def _split_parens(body: str) -> list[str]:
    """Split 'a),(b),(c' style bodies at depth-0 commas."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [s.strip().strip("()").strip() for s in out]


def from_wkt(wkt: str) -> Geometry:
    wkt = wkt.strip()
    # fast path for the two overwhelmingly common shapes (bulk WKT
    # ingest): 2-D POINT and single-ring POLYGON — C-level float parse
    # via np.array instead of regex + python float() per coordinate
    if wkt.startswith("POINT (") and wkt.endswith(")"):
        vals = wkt[7:-1].split()
        if len(vals) == 2:
            return Geometry("POINT",
                            np.array([float(vals[0]), float(vals[1])]))
    if wkt.startswith("POLYGON ((") and wkt.endswith("))"):
        body = wkt[10:-2]
        if "(" not in body:
            first = body.split(",", 1)[0].split()
            if len(first) == 2:
                arr = np.array(body.replace(",", " ").split(),
                               dtype=np.float64)
                if arr.size % 2 == 0:
                    return Geometry("POLYGON", [_close(arr.reshape(-1, 2))])
    m = re.match(r"^\s*([A-Za-z]+)\s*(?:Z|M|ZM)?\s*\((.*)\)\s*$", wkt, re.S)
    if not m:
        mm = re.match(r"^\s*([A-Za-z]+)\s+EMPTY\s*$", wkt, re.I)
        if mm:
            raise ValueError(f"EMPTY geometry unsupported: {wkt!r}")
        raise ValueError(f"cannot parse WKT: {wkt[:80]!r}")
    kind, body = m.group(1).upper(), m.group(2).strip()
    if kind == "POINT":
        vals = body.replace("(", " ").replace(")", " ").split()
        return Geometry("POINT", np.array([float(vals[0]), float(vals[1])]),
                        z=float(vals[2]) if len(vals) >= 3 else None)
    if kind == "LINESTRING":
        xy, z = _split_z(_parse_ring_text(body))
        return Geometry("LINESTRING", xy, z=z)
    if kind == "POLYGON":
        rings = [_split_z(_close(_parse_ring_text(r)))
                 for r in _split_parens(body)]
        zs = [z for _, z in rings]
        return Geometry("POLYGON", [xy for xy, _ in rings],
                        z=zs if all(z is not None for z in zs) else None)
    if kind == "MULTIPOINT":
        pts = []
        for p in _split_parens(body):
            arr = _parse_ring_text(p)[0]
            pts.append(Geometry("POINT", arr[:2],
                                z=float(arr[2]) if arr.shape[0] == 3 else None))
        return Geometry("MULTIPOINT", pts)
    if kind == "MULTILINESTRING":
        parts = []
        for p in _split_parens(body):
            xy, z = _split_z(_parse_ring_text(p))
            parts.append(Geometry("LINESTRING", xy, z=z))
        return Geometry("MULTILINESTRING", parts)
    if kind == "MULTIPOLYGON":
        polys = []
        # split top-level polygons: depth-0 commas of the MULTIPOLYGON body
        for ptxt in _split_depth(body, 0):
            rings = [_split_z(_close(_parse_ring_text(r)))
                     for r in _split_parens(ptxt)]
            zs = [z for _, z in rings]
            polys.append(Geometry("POLYGON", [xy for xy, _ in rings],
                                  z=zs if all(z is not None for z in zs)
                                  else None))
        return Geometry("MULTIPOLYGON", polys)
    raise ValueError(f"unsupported WKT kind {kind}")


def _split_depth(body: str, depth0: int) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == depth0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    # remove exactly ONE paren layer: the chunk for a polygon with
    # ring(s) looks like "((x y, ...))" or "((shell)),((hole))" —
    # stripping every leading paren (the old lstrip bug) exposed the
    # coordinate list to the next depth-0 comma split, which chopped
    # each multipolygon ring into single-point rings
    def _unwrap(s: str) -> str:
        s = s.strip()
        if s.startswith("(") and s.endswith(")"):
            s = s[1:-1]
        return s.strip()
    return [_unwrap(s) for s in out]


def _close(ring: np.ndarray) -> np.ndarray:
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[0]])
    return ring


def _fmt(v: float) -> str:
    s = f"{v:.12g}"
    return s


def _run_wkt(xy: np.ndarray, z) -> str:
    if z is None:
        return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in xy)
    return ", ".join(f"{_fmt(x)} {_fmt(y)} {_fmt(zz)}"
                     for (x, y), zz in zip(xy, z))


def to_wkt(g: Geometry) -> str:
    zm = " Z" if g.z is not None or (
        g.kind.startswith("MULTI") and g.coords
        and any(p.z is not None for p in g.coords)) else ""
    if g.kind == "POINT":
        if g.z is not None:
            return (f"POINT Z ({_fmt(g.coords[0])} {_fmt(g.coords[1])} "
                    f"{_fmt(g.z)})")
        return f"POINT ({_fmt(g.coords[0])} {_fmt(g.coords[1])})"
    if g.kind == "LINESTRING":
        return f"LINESTRING{zm} ({_run_wkt(g.coords, g.z)})"
    if g.kind == "POLYGON":
        rings = ", ".join(
            "(" + _run_wkt(r, g.z[i] if g.z is not None else None) + ")"
            for i, r in enumerate(g.coords))
        return f"POLYGON{zm} ({rings})"
    if g.kind == "MULTIPOINT":
        inner = ", ".join(
            "(" + _run_wkt(p.coords.reshape(1, 2),
                           None if p.z is None else [p.z]) + ")"
            for p in g.coords)
        return f"MULTIPOINT{zm} ({inner})"
    if g.kind == "MULTILINESTRING":
        inner = ", ".join("(" + _run_wkt(p.coords, p.z) + ")"
                          for p in g.coords)
        return f"MULTILINESTRING{zm} ({inner})"
    if g.kind == "MULTIPOLYGON":
        inner = ", ".join(w[w.index("(("):]
                          for w in (to_wkt(p) for p in g.coords))
        return f"MULTIPOLYGON{zm} ({inner})"
    raise ValueError(g.kind)


# ---------------------------------------------------------------------------
# WKB codec (ISO little-endian)
# ---------------------------------------------------------------------------

def to_wkb(g: Geometry) -> bytes:
    """ISO WKB, little-endian; 3-D geometries use type code +1000
    (ISO Z) with the Z value interleaved per coordinate."""
    has_z = g.z is not None
    out = [b"\x01",
           struct.pack("<I", _WKB_TYPES[g.kind] + (1000 if has_z else 0))]
    if g.kind == "POINT":
        if has_z:
            out.append(struct.pack("<3d", float(g.coords[0]),
                                   float(g.coords[1]), float(g.z)))
        else:
            out.append(struct.pack("<2d", float(g.coords[0]),
                                   float(g.coords[1])))
    elif g.kind == "LINESTRING":
        out.append(struct.pack("<I", len(g.coords)))
        arr = (np.column_stack([g.coords, g.z]) if has_z else g.coords)
        out.append(np.ascontiguousarray(arr, dtype="<f8").tobytes())
    elif g.kind == "POLYGON":
        out.append(struct.pack("<I", len(g.coords)))
        for i, ring in enumerate(g.coords):
            out.append(struct.pack("<I", len(ring)))
            arr = (np.column_stack([ring, g.z[i]]) if has_z else ring)
            out.append(np.ascontiguousarray(arr, dtype="<f8").tobytes())
    else:
        out.append(struct.pack("<I", len(g.coords)))
        for part in g.coords:
            out.append(to_wkb(part))
    return b"".join(out)


def from_wkb(buf: bytes) -> Geometry:
    g, _ = _from_wkb_at(memoryview(buf), 0)
    return g


def _from_wkb_at(mv: memoryview, off: int) -> tuple[Geometry, int]:
    bo = "<" if mv[off] == 1 else ">"
    (typ,) = struct.unpack_from(bo + "I", mv, off + 1)
    # EWKB Z flag OR ISO +1000 both mean a Z ordinate
    has_z = bool(typ & 0x80000000)
    typ &= 0x7FFFFFFF
    if typ >= 3000:
        raise ValueError("ZM/M WKB unsupported")
    if typ >= 1000:
        has_z, typ = True, typ % 1000
    off += 5
    kind = _WKB_NAMES[typ]
    dim = 3 if has_z else 2
    if kind == "POINT":
        vals = struct.unpack_from(bo + f"{dim}d", mv, off)
        return Geometry("POINT", np.array(vals[:2]),
                        z=vals[2] if has_z else None), off + 8 * dim
    if kind == "LINESTRING":
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=bo + "f8", count=dim * n, offset=off) \
                .reshape(n, dim).astype(np.float64)
        xy, z = _split_z(arr)
        return Geometry("LINESTRING", xy, z=z), off + 8 * dim * n
    if kind == "POLYGON":
        (nr,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings, zs = [], []
        for _ in range(nr):
            (n,) = struct.unpack_from(bo + "I", mv, off)
            off += 4
            arr = np.frombuffer(mv, dtype=bo + "f8", count=dim * n,
                                offset=off).reshape(n, dim).astype(np.float64)
            xy, z = _split_z(arr)
            rings.append(xy)
            zs.append(z)
            off += 8 * dim * n
        return Geometry("POLYGON", rings,
                        z=zs if has_z else None), off
    # MULTI*
    (n,) = struct.unpack_from(bo + "I", mv, off)
    off += 4
    parts = []
    for _ in range(n):
        part, off = _from_wkb_at(mv, off)
        parts.append(part)
    return Geometry(kind, parts), off


def decode_points(wkbs: Iterable[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (x, y) decode for a batch of WKB values.

    Fast path: every value is a 21-byte LE point WKB → one frombuffer.
    Fallback: per-row decode via centroid-ish representative point
    (bbox center) for non-point geometries.
    """
    wkbs = list(wkbs)
    n = len(wkbs)
    if n and all(b is not None and len(b) == 21 and b[0] == 1 for b in wkbs):
        flat = np.frombuffer(b"".join(wkbs), dtype=np.uint8).reshape(n, 21)
        xs = flat[:, 5:13].copy().view("<f8").ravel()
        ys = flat[:, 13:21].copy().view("<f8").ravel()
        return xs, ys
    xs = np.full(n, np.nan)
    ys = np.full(n, np.nan)
    for i, b in enumerate(wkbs):
        if b is None:
            continue
        g = from_wkb(bytes(b))
        bb = g.bbox
        xs[i] = (bb[0] + bb[2]) / 2.0
        ys[i] = (bb[1] + bb[3]) / 2.0
    return xs, ys


# ---------------------------------------------------------------------------
# vectorized kernels: many points vs one geometry
# ---------------------------------------------------------------------------

def _ring_pip(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Winding-free even-odd ray cast for one ring. Returns bool inside
    (boundary not guaranteed either way — handled separately)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(len(xs), dtype=bool)
    for i in range(len(x0)):
        ax, ay, bx, by = x0[i], y0[i], x1[i], y1[i]
        cond = (ay > ys) != (by > ys)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (ys - ay) * (bx - ax) / (by - ay)
        inside ^= cond & (xs < xint)
    return inside


def _on_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray,
             eps: float = 1e-9) -> np.ndarray:
    """Points lying on a ring's segments (within eps)."""
    on = np.zeros(len(xs), dtype=bool)
    for i in range(len(ring) - 1):
        ax, ay = ring[i]
        bx, by = ring[i + 1]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        if L2 < _EPS:
            d2 = (xs - ax) ** 2 + (ys - ay) ** 2
            on |= d2 <= eps * eps
            continue
        t = np.clip(((xs - ax) * dx + (ys - ay) * dy) / L2, 0.0, 1.0)
        d2 = (xs - (ax + t * dx)) ** 2 + (ys - (ay + t * dy)) ** 2
        on |= d2 <= eps * eps
    return on


def points_in_polygon(xs: np.ndarray, ys: np.ndarray, g: Geometry,
                      boundary: bool = True) -> np.ndarray:
    """Vectorized point-in-polygon for POLYGON / MULTIPOLYGON.

    ``boundary=True`` → covered-by semantics (boundary counts in);
    ``boundary=False`` → contains semantics (strict interior only).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    res = np.zeros(len(xs), dtype=bool)
    for poly in g.parts():
        assert poly.kind == "POLYGON"
        xmin, ymin, xmax, ymax = poly.bbox
        cand = (xs >= xmin) & (xs <= xmax) & (ys >= ymin) & (ys <= ymax)
        if not cand.any():
            continue
        cx, cy = xs[cand], ys[cand]
        inside = _ring_pip(cx, cy, poly.coords[0])
        on_shell = _on_ring(cx, cy, poly.coords[0])
        for hole in poly.coords[1:]:
            in_hole = _ring_pip(cx, cy, hole)
            on_hole = _on_ring(cx, cy, hole)
            inside &= ~(in_hole & ~on_hole)
            if boundary:
                inside |= on_hole & (inside | on_shell | _ring_pip(cx, cy, poly.coords[0]))
            else:
                inside &= ~on_hole
        if boundary:
            ok = inside | on_shell
        else:
            ok = inside & ~on_shell
        sub = res[cand]
        sub |= ok
        res[cand] = sub
    return res


def _pts_seg_dist(xs, ys, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 < _EPS:
        return np.hypot(xs - ax, ys - ay)
    t = np.clip(((xs - ax) * dx + (ys - ay) * dy) / L2, 0.0, 1.0)
    return np.hypot(xs - (ax + t * dx), ys - (ay + t * dy))


def points_dist_to_geom(xs: np.ndarray, ys: np.ndarray, g: Geometry) -> np.ndarray:
    """Vectorized euclidean distance from many points to one geometry."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    best = np.full(len(xs), np.inf)
    for part in g.parts():
        if part.kind == "POINT":
            d = np.hypot(xs - part.coords[0], ys - part.coords[1])
        elif part.kind == "LINESTRING":
            d = np.full(len(xs), np.inf)
            c = part.coords
            for i in range(len(c) - 1):
                d = np.minimum(d, _pts_seg_dist(xs, ys, c[i, 0], c[i, 1],
                                                c[i + 1, 0], c[i + 1, 1]))
        else:  # POLYGON: 0 inside, else boundary distance
            d = np.full(len(xs), np.inf)
            for ring in part.coords:
                for i in range(len(ring) - 1):
                    d = np.minimum(d, _pts_seg_dist(xs, ys, ring[i, 0], ring[i, 1],
                                                    ring[i + 1, 0], ring[i + 1, 1]))
            inside = points_in_polygon(xs, ys, part, boundary=True)
            d = np.where(inside, 0.0, d)
        best = np.minimum(best, d)
    return best


# ---------------------------------------------------------------------------
# scalar predicates (query-constant vs query-constant, driver-side planning,
# and the generic refine fallback for non-point data)
# ---------------------------------------------------------------------------

def _seg_intersect(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection test (touching counts)."""
    d1 = _cross(p3, p4, p1)
    d2 = _cross(p3, p4, p2)
    d3 = _cross(p1, p2, p3)
    d4 = _cross(p1, p2, p4)
    if ((d1 > 0) != (d2 > 0) or (d1 == 0) or (d2 == 0)) and \
       ((d3 > 0) != (d4 > 0) or (d3 == 0) or (d4 == 0)):
        # handle collinear / touching via on-segment checks
        if (d1 > 0) != (d2 > 0) and (d3 > 0) != (d4 > 0):
            return True
        for (a, b, c, d) in ((d1, p3, p4, p1), (d2, p3, p4, p2),
                             (d3, p1, p2, p3), (d4, p1, p2, p4)):
            if a == 0 and _on_seg(b, c, d):
                return True
    return False


def _cross(a, b, c) -> float:
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _on_seg(a, b, p) -> bool:
    return (min(a[0], b[0]) - _EPS <= p[0] <= max(a[0], b[0]) + _EPS and
            min(a[1], b[1]) - _EPS <= p[1] <= max(a[1], b[1]) + _EPS)


def _edges(g: Geometry):
    if g.kind == "LINESTRING":
        c = g.coords
        for i in range(len(c) - 1):
            yield c[i], c[i + 1]
    elif g.kind == "POLYGON":
        for ring in g.coords:
            for i in range(len(ring) - 1):
                yield ring[i], ring[i + 1]


def _bbox_disjoint(a: Geometry, b: Geometry) -> bool:
    ab, bb = a.bbox, b.bbox
    return ab[2] < bb[0] or bb[2] < ab[0] or ab[3] < bb[1] or bb[3] < ab[1]


def _pt_covered(pt: np.ndarray, g: Geometry) -> bool:
    if g.kind == "POINT":
        return bool(np.all(np.abs(pt - g.coords) <= 1e-9))
    if g.kind == "LINESTRING":
        return bool(_on_ring(np.array([pt[0]]), np.array([pt[1]]), g.coords)[0])
    if g.kind == "POLYGON":
        return bool(points_in_polygon(np.array([pt[0]]), np.array([pt[1]]),
                                      g, boundary=True)[0])
    return any(_pt_covered(pt, p) for p in g.parts())


def _pt_inside(pt: np.ndarray, g: Geometry) -> bool:
    if g.kind == "POLYGON" or g.kind == "MULTIPOLYGON":
        return bool(points_in_polygon(np.array([pt[0]]), np.array([pt[1]]),
                                      g, boundary=False)[0])
    if g.kind == "POINT":
        return bool(np.all(np.abs(pt - g.coords) <= 1e-9))
    return False  # a linestring's interior can't strictly contain in 2-D area sense


def intersects(a: Geometry, b: Geometry) -> bool:
    if _bbox_disjoint(a, b):
        return False
    for pa in a.parts():
        for pb in b.parts():
            if _parts_intersect(pa, pb):
                return True
    return False


def _parts_intersect(a: Geometry, b: Geometry) -> bool:
    if a.kind == "POINT":
        return _pt_covered(a.coords, b)
    if b.kind == "POINT":
        return _pt_covered(b.coords, a)
    # edge-edge crossing
    for e1 in _edges(a):
        for e2 in _edges(b):
            if _seg_intersect(e1[0], e1[1], e2[0], e2[1]):
                return True
    # full containment (no boundary crossing): test a representative vertex
    if a.kind == "POLYGON" and _pt_covered(_first_vertex(b), a):
        return True
    if b.kind == "POLYGON" and _pt_covered(_first_vertex(a), b):
        return True
    return False


def _first_vertex(g: Geometry) -> np.ndarray:
    if g.kind == "POINT":
        return g.coords
    if g.kind == "LINESTRING":
        return g.coords[0]
    return g.coords[0][0]


def covers(a: Geometry, b: Geometry) -> bool:
    """b ⊆ closure(a)."""
    if _bbox_disjoint(a, b):
        return False
    for pb in b.parts():
        if not _part_covered_by(pb, a):
            return False
    return True


def _part_covered_by(b: Geometry, a: Geometry) -> bool:
    """Is part ``b`` entirely within closure of (possibly multi) ``a``?"""
    if b.kind == "POINT":
        return _pt_covered(b.coords, a)
    # all vertices covered
    verts = b.coords if b.kind == "LINESTRING" else np.vstack(b.coords)
    for v in verts:
        if not _pt_covered(v, a):
            return False
    # no edge of b properly exits a: check midpoints of b-edges split by any
    # crossing with a's boundary. Simple sufficient test: midpoints of each
    # b edge and crossings with a edges.
    a_parts = a.parts()
    for (p, q) in _edges(b) if b.kind != "POINT" else []:
        # collect crossing parameters t along (p,q) with all edges of a
        ts = [0.0, 1.0]
        for ap in a_parts:
            for (r, s) in _edges(ap):
                t = _seg_cross_param(p, q, r, s)
                if t is not None:
                    ts.append(t)
        ts.sort()
        for i in range(len(ts) - 1):
            tm = (ts[i] + ts[i + 1]) / 2.0
            mid = np.array([p[0] + tm * (q[0] - p[0]), p[1] + tm * (q[1] - p[1])])
            if not _pt_covered(mid, a):
                return False
    # holes of a must not strictly contain any area of b (polygon b with a
    # hole of a strictly inside it) — detect hole vertex strictly inside b
    if b.kind == "POLYGON":
        for ap in a_parts:
            if ap.kind != "POLYGON":
                continue
            for hole in ap.coords[1:]:
                hx, hy = hole[:-1, 0], hole[:-1, 1]
                strict = points_in_polygon(hx, hy, b, boundary=False)
                if strict.any():
                    return False
    return True


def _seg_cross_param(p, q, r, s):
    """Parameter t in (0,1) where segment pq crosses rs, else None."""
    d = (q[0] - p[0]) * (s[1] - r[1]) - (q[1] - p[1]) * (s[0] - r[0])
    if abs(d) < _EPS:
        return None
    t = ((r[0] - p[0]) * (s[1] - r[1]) - (r[1] - p[1]) * (s[0] - r[0])) / d
    u = ((r[0] - p[0]) * (q[1] - p[1]) - (r[1] - p[1]) * (q[0] - p[0])) / d
    if 0.0 < t < 1.0 and -_EPS <= u <= 1.0 + _EPS:
        return t
    return None


def contains(a: Geometry, b: Geometry) -> bool:
    """OGC contains: covers(a,b) AND interiors intersect."""
    if not covers(a, b):
        return False
    # need one point of b in interior of a
    if b.kind == "POINT":
        return _pt_inside(b.coords, a)
    if b.kind.startswith("MULTI"):
        return any(contains(a, p) for p in b.parts())
    # probe vertices + edge midpoints + centroid-ish point
    probes = [v for v in (b.coords if b.kind == "LINESTRING" else b.coords[0])]
    if b.kind == "POLYGON":
        sh = b.coords[0]
        probes.append(sh[:-1].mean(axis=0))
    for (p, q) in _edges(b):
        probes.append((np.asarray(p) + np.asarray(q)) / 2.0)
    return any(_pt_inside(np.asarray(v), a) for v in probes)


def distance(a: Geometry, b: Geometry) -> float:
    """Minimum euclidean distance between two geometries (0 if intersecting)."""
    if intersects(a, b):
        return 0.0
    best = math.inf
    for pa in a.parts():
        for pb in b.parts():
            best = min(best, _parts_dist(pa, pb))
    return best


def _parts_dist(a: Geometry, b: Geometry) -> float:
    if a.kind == "POINT":
        return float(points_dist_to_geom(np.array([a.coords[0]]),
                                         np.array([a.coords[1]]), b)[0])
    if b.kind == "POINT":
        return _parts_dist(b, a)
    best = math.inf
    for (p, q) in _edges(a):
        for (r, s) in _edges(b):
            best = min(best, _seg_seg_dist(p, q, r, s))
    return best


def _seg_seg_dist(p, q, r, s) -> float:
    if _seg_intersect(p, q, r, s):
        return 0.0
    cands = []
    for (pt, seg) in ((p, (r, s)), (q, (r, s)), (r, (p, q)), (s, (p, q))):
        cands.append(float(_pts_seg_dist(np.array([pt[0]]), np.array([pt[1]]),
                                         seg[0][0], seg[0][1], seg[1][0], seg[1][1])[0]))
    return min(cands)


# ---------------------------------------------------------------------------
# measures (reference: STObject wraps JTS, so `.getGeo.getArea/getLength/
# getCentroid/getEnvelope` are part of its de-facto user surface —
# re-implemented here from the public OGC/JTS definitions)
# ---------------------------------------------------------------------------

def _ring_signed_area2(ring: np.ndarray) -> float:
    """Twice the signed shoelace area of a closed ring."""
    a, b = ring[:-1], ring[1:]
    return float(np.sum(a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]))


def area(g: Geometry) -> float:
    """Planar area: shell minus holes per polygon; 0 for points/lines."""
    if g.kind.startswith("MULTI"):
        return sum(area(p) for p in g.parts())
    if g.kind != "POLYGON":
        return 0.0
    s = abs(_ring_signed_area2(g.coords[0]))
    for hole in g.coords[1:]:
        s -= abs(_ring_signed_area2(hole))
    return 0.5 * s


def _ring_length(ring: np.ndarray) -> float:
    d = np.diff(ring, axis=0)
    return float(np.sum(np.hypot(d[:, 0], d[:, 1])))


def length(g: Geometry) -> float:
    """JTS getLength: line length; polygon perimeter (all rings,
    holes included); 0 for points."""
    if g.kind.startswith("MULTI"):
        return sum(length(p) for p in g.parts())
    if g.kind == "POINT":
        return 0.0
    if g.kind == "LINESTRING":
        return _ring_length(g.coords)
    return sum(_ring_length(r) for r in g.coords)


def _centroid_acc(g: Geometry):
    """(dim, weight, wx, wy) accumulators per part. dim follows JTS:
    the centroid of a mixed collection uses only the highest-dimension
    parts (areal > lineal > puntal)."""
    out = []
    for p in g.parts():
        if p.kind == "POINT":
            out.append((0, 1.0, float(p.coords[0]), float(p.coords[1])))
        elif p.kind == "LINESTRING":
            d = np.diff(p.coords, axis=0)
            seg = np.hypot(d[:, 0], d[:, 1])
            mid = (p.coords[:-1] + p.coords[1:]) / 2.0
            out.append((1, float(seg.sum()),
                        float(np.sum(mid[:, 0] * seg)),
                        float(np.sum(mid[:, 1] * seg))))
        else:
            for i, ring in enumerate(p.coords):
                a, b = ring[:-1], ring[1:]
                cross = a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]
                a2 = float(np.sum(cross))
                # integral centroid: C = Σ(v_i + v_{i+1})·cross_i / (3·Σcross)
                cx = float(np.sum((a[:, 0] + b[:, 0]) * cross)) / 3.0
                cy = float(np.sum((a[:, 1] + b[:, 1]) * cross)) / 3.0
                sgn = 1.0 if i == 0 else -1.0
                # normalize ring orientation into the shell/hole sign
                if a2 < 0:
                    a2, cx, cy = -a2, -cx, -cy
                out.append((2, sgn * a2 / 2.0, sgn * cx / 2.0,
                            sgn * cy / 2.0))
    return out


def centroid(g: Geometry) -> Geometry:
    """Centroid point (area-weighted for polygons, length-weighted for
    lines, vertex mean for points; mixed collections use the highest
    dimension present, like JTS)."""
    acc = _centroid_acc(g)
    top = max(d for d, *_ in acc)
    w = sum(a[1] for a in acc if a[0] == top)
    wx = sum(a[2] for a in acc if a[0] == top)
    wy = sum(a[3] for a in acc if a[0] == top)
    if w == 0:  # degenerate (zero-area polygon / zero-length line)
        pts = np.vstack([p.coords[0][:-1] if p.kind == "POLYGON"
                         else np.atleast_2d(p.coords)
                         for p in g.parts()])
        return point(float(pts[:, 0].mean()), float(pts[:, 1].mean()))
    return point(wx / w, wy / w)


def envelope(g: Geometry) -> Geometry:
    """Axis-aligned bounding geometry with JTS `getEnvelope` semantics:
    POINT when both extents collapse, LINESTRING when exactly one
    does (a horizontal/vertical input), else the bbox POLYGON."""
    xmin, ymin, xmax, ymax = g.bbox
    if xmin == xmax and ymin == ymax:
        return point(xmin, ymin)
    if xmin == xmax or ymin == ymax:
        return Geometry("LINESTRING",
                        np.array([[xmin, ymin], [xmax, ymax]],
                                 dtype=float))
    return box(xmin, ymin, xmax, ymax)


def boundary(g: Geometry) -> Geometry | None:
    """OGC/JTS `getBoundary`: POINT/MULTIPOINT → empty (None — the
    engine has no empty-geometry value; the SQL surface maps it to
    NULL); LINESTRING → MULTIPOINT of its endpoints (empty for a
    closed line); MULTILINESTRING → mod-2 union of part endpoints;
    POLYGON → its ring(s) as LINESTRING/MULTILINESTRING;
    MULTIPOLYGON → MULTILINESTRING of every ring of every part."""
    if g.kind in ("POINT", "MULTIPOINT"):
        return None
    if g.kind in ("LINESTRING", "MULTILINESTRING"):
        from collections import Counter
        ends: Counter = Counter()
        for p in g.parts():
            c = np.asarray(p.coords, dtype=float)
            if np.array_equal(c[0], c[-1]):
                continue                       # closed line: no boundary
            ends[(float(c[0][0]), float(c[0][1]))] += 1
            ends[(float(c[-1][0]), float(c[-1][1]))] += 1
        pts = sorted(pt for pt, n in ends.items() if n % 2 == 1)
        if not pts:
            return None
        # JTS BoundaryOp / PostGIS ST_Boundary always type a lineal
        # boundary as MULTIPOINT, even with a single point (r8
        # advice #3) — matching the reference's inherited JTS type
        return Geometry("MULTIPOINT", [point(x, y) for x, y in pts])
    rings: list = []
    for p in g.parts():
        for r in p.coords:
            rings.append(np.asarray(r, dtype=float))
    if len(rings) == 1:
        return Geometry("LINESTRING", rings[0])
    return Geometry("MULTILINESTRING",
                    [Geometry("LINESTRING", r) for r in rings])


def num_points(g: Geometry) -> int:
    """JTS `getNumPoints`: vertex count as stored (rings include
    their closing duplicate, matching JTS/PostGIS ST_NPoints)."""
    if g.kind == "POINT":
        return 1
    if g.kind == "LINESTRING":
        return len(g.coords)
    if g.kind.startswith("MULTI"):
        return sum(num_points(p) for p in g.parts())
    return sum(len(r) for r in g.coords)


def num_rings(g: Geometry) -> int:
    """PostGIS `ST_NRings`: total ring count (exterior + interior)
    summed over all polygon parts; 0 for non-areal kinds."""
    if g.kind == "POLYGON":
        return len(g.coords)
    if g.kind == "MULTIPOLYGON":
        return sum(num_rings(p) for p in g.parts())
    return 0


def _all_vertices(g: Geometry) -> np.ndarray:
    pts = []
    for p in g.parts():
        if p.kind == "POINT":
            pts.append(np.atleast_2d(np.asarray(p.coords[:2], dtype=float)))
        elif p.kind == "LINESTRING":
            pts.append(np.asarray(p.coords, dtype=float))
        else:
            for ring in p.coords:
                pts.append(np.asarray(ring[:-1], dtype=float))
    return np.vstack(pts)


def convex_hull(g: Geometry) -> Geometry:
    """Convex hull over all vertices (JTS `getConvexHull`): Andrew
    monotone chain; degenerate inputs collapse to POINT / LINESTRING.
    Ring is closed and CCW starting from the lexicographically
    smallest vertex (deterministic output for the oracle)."""
    pts = np.unique(_all_vertices(g), axis=0)   # lex-sorted unique
    if len(pts) == 1:
        return point(float(pts[0, 0]), float(pts[0, 1]))
    def _chain(p):
        # scalar 2-D cross product written out: np.cross on 2-D
        # vectors is removed in NumPy >= 2.0
        out = []
        for v in p:
            while len(out) >= 2:
                d1 = out[-1] - out[-2]
                d2 = v - out[-2]
                if d1[0] * d2[1] - d1[1] * d2[0] > 0:
                    break
                out.pop()
            out.append(v)
        return out
    lower = _chain(pts)
    upper = _chain(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:   # all collinear
        return Geometry("LINESTRING",
                        np.vstack([pts[0], pts[-1]]).astype(float))
    ring = np.vstack(hull + [hull[0]]).astype(float)
    return Geometry("POLYGON", [ring])


def _dp_keep(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask over an open polyline."""
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = pts[a + 1:b]
        d = _pts_seg_dist(seg[:, 0], seg[:, 1],
                          pts[a, 0], pts[a, 1], pts[b, 0], pts[b, 1])
        i = int(np.argmax(d))
        if d[i] > tol:
            j = a + 1 + i
            keep[j] = True
            stack.append((a, j))
            stack.append((j, b))
    return keep


def simplify(g: Geometry, tol: float) -> Geometry:
    """Douglas–Peucker simplification (JTS `DouglasPeuckerSimplifier`
    semantics: per-part, endpoints kept, NOT topology-preserving).
    Rings anchor at their stored start vertex; a ring collapsing below
    4 points is dropped (shell collapse yields an empty-ish polygon
    fallback: the ring's bbox)."""
    if g.kind.startswith("MULTI"):
        return Geometry(g.kind, [simplify(p, tol) for p in g.parts()])
    if g.kind == "POINT":
        return g
    if g.kind == "LINESTRING":
        pts = np.asarray(g.coords, dtype=float)
        return Geometry("LINESTRING", pts[_dp_keep(pts, tol)])
    rings = []
    for i, ring in enumerate(g.coords):
        pts = np.asarray(ring, dtype=float)
        kept = pts[_dp_keep(pts, tol)]
        if len(kept) >= 4:
            rings.append(kept)
        elif i == 0:
            xmin, ymin, xmax, ymax = g.bbox
            return box(xmin, ymin, xmax, ymax)
        # holes that collapse are dropped
    return Geometry("POLYGON", rings)


# ---------------------------------------------------------------------------
# batched measures: ragged ring arrays over a WKB batch
# ---------------------------------------------------------------------------
# The Arrow-batch measure UDFs (functions/register.py) used to loop
# `fn(from_wkb(b))` per element — fine for points (which short-circuit
# through `decode_points`), but Python-per-geometry for polygon/line
# batches. Here a single cheap header scan per batch lays every ring
# out as (flat coords, ring pointers, element ids); the measures are
# then one numpy pass each (`np.add.reduceat` per ring + `np.bincount`
# per element). Same ragged layout idea as the refine kernels above.


class _UnsupportedWkb(Exception):
    pass


def _scan_wkb(mv, off: int, i: int, rings: list, pts: list) -> int:
    """Collect (byte offset, npts, elem, is_hole, closed) per ring and
    (elem, byte offset) per point from one LE 2-D WKB geometry.
    Raises _UnsupportedWkb on big-endian or Z/M data (the caller falls
    back to the per-element path)."""
    if mv[off] != 1:
        raise _UnsupportedWkb
    typ = int.from_bytes(mv[off + 1:off + 5], "little")
    if typ & 0x80000000 or typ >= 1000:
        raise _UnsupportedWkb
    off += 5
    if typ == 1:                                    # POINT
        pts.append((i, off))
        return off + 16
    if typ == 2:                                    # LINESTRING
        n = int.from_bytes(mv[off:off + 4], "little")
        off += 4
        rings.append((off, n, i, False, False))
        return off + 16 * n
    if typ == 3:                                    # POLYGON
        nr = int.from_bytes(mv[off:off + 4], "little")
        off += 4
        for r in range(nr):
            n = int.from_bytes(mv[off:off + 4], "little")
            off += 4
            rings.append((off, n, i, r > 0, True))
            off += 16 * n
        return off
    if typ in (4, 5, 6, 7):                         # MULTI* / collection
        np_ = int.from_bytes(mv[off:off + 4], "little")
        off += 4
        for _ in range(np_):
            off = _scan_wkb(mv, off, i, rings, pts)
        return off
    raise _UnsupportedWkb


class _RaggedRings:
    """Batch layout: flat (x, y) for every ring vertex + per-ring and
    per-point index arrays. `elem` arrays map back to batch rows."""

    __slots__ = ("n", "null", "xy", "ptr", "ring_elem", "ring_hole",
                 "ring_closed", "pt_elem", "pt_xy", "_vr")

    def __init__(self, wkbs):
        wkbs = list(wkbs)          # bytes/bytearray both fine as-is
        self.n = len(wkbs)
        self._vr = None            # lazy (ring-of-segment, internal)
        self.null = np.fromiter((b is None for b in wkbs),
                                dtype=bool, count=self.n)
        lens = np.fromiter((0 if b is None else len(b) for b in wkbs),
                           dtype=np.int64, count=self.n)
        joined = b"".join(b for b in wkbs if b is not None)
        big = np.frombuffer(joined, dtype=np.uint8)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]]) \
            if self.n else np.zeros(0, dtype=np.int64)
        valid = ~self.null
        if valid.any() and lens[valid].min() < 9:
            raise _UnsupportedWkb
        vi = np.flatnonzero(valid)

        def _u32(off):
            b4 = big[off[:, None] + np.arange(4)]
            return (b4.astype(np.int64)
                    @ np.array([1, 256, 65536, 16777216], dtype=np.int64))

        if len(vi) and (big[starts[vi]] != 1).any():
            raise _UnsupportedWkb              # big-endian anywhere
        typ = np.zeros(self.n, dtype=np.int64)
        typ[vi] = _u32(starts[vi] + 1)
        if ((typ[vi] < 1) | (typ[vi] > 7)).any():
            raise _UnsupportedWkb              # Z/M or junk

        # fully vectorized classes: POINT / LINESTRING / 1-ring POLYGON
        is_pt = valid & (typ == 1)
        is_ls = valid & (typ == 2)
        nr = np.zeros(self.n, dtype=np.int64)
        pg = np.flatnonzero(valid & (typ == 3))
        if len(pg):
            nr[pg] = _u32(starts[pg] + 5)
        is_pg1 = valid & (typ == 3) & (nr == 1)
        simple = is_pt | is_ls | is_pg1
        if (lens[is_pt] != 21).any():
            raise _UnsupportedWkb

        r_off = []      # absolute coord offset per ring (bytes)
        r_npt = []      # points per ring
        r_elem = []
        r_hole = []
        r_closed = []
        li = np.flatnonzero(is_ls)
        if len(li):
            npt = _u32(starts[li] + 5)
            if (lens[li] != 9 + 16 * npt).any():
                raise _UnsupportedWkb
            r_off.append(starts[li] + 9)
            r_npt.append(npt)
            r_elem.append(li)
            r_hole.append(np.zeros(len(li), dtype=bool))
            r_closed.append(np.zeros(len(li), dtype=bool))
        p1 = np.flatnonzero(is_pg1)
        if len(p1):
            npt = _u32(starts[p1] + 9)
            if (lens[p1] != 13 + 16 * npt).any():
                raise _UnsupportedWkb
            r_off.append(starts[p1] + 13)
            r_npt.append(npt)
            r_elem.append(p1)
            r_hole.append(np.zeros(len(p1), dtype=bool))
            r_closed.append(np.ones(len(p1), dtype=bool))

        # the rare complex shapes (multi-ring polygons, MULTI*,
        # collections) go through the per-element header scan
        pts: list = []
        cx = np.flatnonzero(valid & ~simple)
        if len(cx):
            rings: list = []
            for i in cx:
                cpts: list = []
                _scan_wkb(memoryview(wkbs[i]), 0, int(i), rings, cpts)
                pts.extend((int(i), starts[i] + o) for _, o in cpts)
            if rings:
                r_off.append(np.array(
                    [starts[r[2]] + r[0] for r in rings],
                    dtype=np.int64))
                r_npt.append(np.array([r[1] for r in rings],
                                      dtype=np.int64))
                r_elem.append(np.array([r[2] for r in rings],
                                       dtype=np.int64))
                r_hole.append(np.array([r[3] for r in rings],
                                       dtype=bool))
                r_closed.append(np.array([r[4] for r in rings],
                                         dtype=bool))
        pi = np.flatnonzero(is_pt)
        pts.extend((int(i), starts[i] + 5) for i in pi)

        if r_off:
            off = np.concatenate(r_off)
            npts = np.concatenate(r_npt)
            self.ring_elem = np.concatenate(r_elem)
            self.ring_hole = np.concatenate(r_hole)
            self.ring_closed = np.concatenate(r_closed)
            # ring order in the flat layout is free (every consumer
            # goes through ptr / ring_elem): sort by (npts, phase) so
            # each gather group writes ONE contiguous slice instead of
            # a scattered fancy assignment
            order = np.lexsort((off % 8, npts))
            off = off[order]
            npts = npts[order]
            self.ring_elem = self.ring_elem[order]
            self.ring_hole = self.ring_hole[order]
            self.ring_closed = self.ring_closed[order]
            # gather every coordinate into the flat ring layout at
            # FLOAT64 granularity: WKB coord runs are unaligned (byte
            # 13 / 9 headers), so eight phase-shifted unaligned <f8
            # views of the joined buffer cover every possible offset
            # mod 8 — a ring's doubles are then contiguous in the view
            # of its phase, and rings sharing a vertex count gather
            # with one rectangular fancy index (8x fewer indexed
            # elements than a byte gather). A long tail of distinct
            # counts falls back to the general ragged byte gather.
            self.ptr = np.concatenate([[0], np.cumsum(npts)])
            total = int(self.ptr[-1])
            uniq = np.unique(npts)
            if len(uniq) <= 32:
                view8 = [np.frombuffer(joined, dtype="<f8",
                                       count=(len(joined) - p) // 8,
                                       offset=p)
                         if len(joined) >= p + 8 else np.zeros(0)
                         for p in range(8)]
                xyflat = np.empty(total * 2, dtype=np.float64)
                phase = off % 8
                fidx = off // 8
                # rings are (npts, phase)-sorted: each group is a
                # contiguous run of rings AND a contiguous slice of
                # xyflat
                grp = np.flatnonzero(np.diff(npts) | np.diff(phase))
                bounds = np.concatenate([[0], grp + 1, [len(npts)]])
                for a, b in zip(bounds[:-1], bounds[1:]):
                    u = int(npts[a])
                    mat = view8[phase[a]][fidx[a:b][:, None]
                                          + np.arange(2 * u)]
                    xyflat[self.ptr[a] * 2:self.ptr[b] * 2] = mat.ravel()
                self.xy = xyflat.reshape(-1, 2)
            else:
                cnt = npts * 16
                base = np.concatenate([[0], np.cumsum(cnt)[:-1]])
                idx = (np.arange(total * 16)
                       + np.repeat(off - base, cnt))
                self.xy = np.ascontiguousarray(big[idx]).view("<f8") \
                    .reshape(-1, 2)
        else:
            self.xy = np.zeros((0, 2))
            self.ptr = np.zeros(1, dtype=np.int64)
            self.ring_elem = np.zeros(0, dtype=np.int64)
            self.ring_hole = np.zeros(0, dtype=bool)
            self.ring_closed = np.zeros(0, dtype=bool)
        self.pt_elem = np.array([p[0] for p in pts], dtype=np.int64)
        if pts:
            po = np.array([p[1] for p in pts], dtype=np.int64)
            self.pt_xy = np.ascontiguousarray(
                big[po[:, None] + np.arange(16)]).view("<f8")
        else:
            self.pt_xy = np.zeros((0, 2))

    def _per_ring(self, seg_vals: np.ndarray) -> np.ndarray:
        """Sum per-segment values ring-by-ring. seg_vals has one entry
        per consecutive vertex pair in the FLAT layout (len total-1).
        Implemented as a masked weighted bincount over each segment's
        owning ring: segment i belongs to ring vr[i] iff both its
        endpoints do (vr[i] == vr[i+1]), which drops the spurious
        ring-boundary segments AND makes every degenerate shape — a
        single-vertex ring anywhere in the batch, an all-point batch
        with zero segments — fall out as 0.0 instead of tripping
        reduceat's end-of-array indexing. Summation order within a
        ring matches a sequential left-to-right sum, so results are
        bit-identical to the scalar kernels."""
        nr = len(self.ring_elem)
        if nr == 0:
            return np.zeros(0)
        if len(seg_vals) == 0:
            return np.zeros(nr)
        if self._vr is None:
            vr = np.repeat(np.arange(nr), np.diff(self.ptr))
            self._vr = (vr[:-1], vr[:-1] == vr[1:])
        ring_of_seg, internal = self._vr
        return np.bincount(ring_of_seg[internal],
                           weights=seg_vals[internal],
                           minlength=nr).astype(np.float64, copy=False)


def _ragged(wkbs) -> _RaggedRings | None:
    try:
        return _RaggedRings(wkbs)
    except (_UnsupportedWkb, ValueError, IndexError):
        return None


def batch_area(wkbs) -> np.ndarray | None:
    """Vectorized `area` over a WKB batch (None → unsupported shapes,
    caller falls back). NaN marks null inputs."""
    r = _ragged(wkbs)
    if r is None:
        return None
    x, y = r.xy[:, 0], r.xy[:, 1]
    cross = (x[:-1] * y[1:] - x[1:] * y[:-1]) if len(x) > 1 else \
        np.zeros(0)
    ring_a2 = r._per_ring(cross)
    # open rings (linestrings) have zero area; shells add, holes cut
    val = np.where(r.ring_closed,
                   np.where(r.ring_hole, -np.abs(ring_a2),
                            np.abs(ring_a2)) * 0.5, 0.0)
    # bincount returns int64 when the weights array is EMPTY (a batch
    # of points/nulls only) — force float so the NaN marker works
    out = np.bincount(r.ring_elem, weights=val,
                      minlength=r.n).astype(np.float64, copy=False)
    out[r.null] = np.nan
    return out


def batch_length(wkbs) -> np.ndarray | None:
    """Vectorized `length` (line length / polygon perimeter incl.
    holes) over a WKB batch."""
    r = _ragged(wkbs)
    if r is None:
        return None
    d = np.diff(r.xy, axis=0) if len(r.xy) > 1 else np.zeros((0, 2))
    seg = np.hypot(d[:, 0], d[:, 1])
    ring_len = r._per_ring(seg)
    out = np.bincount(r.ring_elem, weights=ring_len,
                      minlength=r.n).astype(np.float64, copy=False)
    out[r.null] = np.nan
    return out


def points_to_wkb(xs: np.ndarray, ys: np.ndarray) -> list:
    """Vectorized POINT WKB assembly: one (n, 21) uint8 matrix, bytes
    views per row. The reverse of `decode_points`' fast path."""
    n = len(xs)
    out = np.zeros((n, 21), dtype=np.uint8)
    out[:, 0] = 1
    out[:, 1] = 1
    out[:, 5:13] = np.ascontiguousarray(
        np.asarray(xs, dtype="<f8")).view(np.uint8).reshape(n, 8)
    out[:, 13:21] = np.ascontiguousarray(
        np.asarray(ys, dtype="<f8")).view(np.uint8).reshape(n, 8)
    return [r.tobytes() for r in out]


def batch_centroid(wkbs) -> list | None:
    """Vectorized `centroid` over a WKB batch → list of POINT WKBs
    (None entries for null inputs). Follows the JTS highest-dimension
    rule per element; elements whose top-dimension weight is zero
    (degenerate) fall back to the exact per-element path."""
    r = _ragged(wkbs)
    if r is None:
        return None
    wkbs = list(wkbs)
    n = r.n
    x, y = r.xy[:, 0], r.xy[:, 1]
    if len(x) > 1:
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        cx3 = (x[:-1] + x[1:]) * cross
        cy3 = (y[:-1] + y[1:]) * cross
        d = np.diff(r.xy, axis=0)
        seg = np.hypot(d[:, 0], d[:, 1])
        midx = (x[:-1] + x[1:]) * 0.5 * seg
        midy = (y[:-1] + y[1:]) * 0.5 * seg
    else:
        cross = cx3 = cy3 = seg = midx = midy = np.zeros(0)
    ring_a2 = r._per_ring(cross)
    ring_cx = r._per_ring(cx3) / 3.0
    ring_cy = r._per_ring(cy3) / 3.0
    # normalize orientation, apply hole sign (mirrors _centroid_acc)
    flip = ring_a2 < 0
    ring_a2 = np.abs(ring_a2)
    ring_cx = np.where(flip, -ring_cx, ring_cx)
    ring_cy = np.where(flip, -ring_cy, ring_cy)
    sgn = np.where(r.ring_hole, -1.0, 1.0) * np.where(r.ring_closed,
                                                      1.0, 0.0)
    aw = np.bincount(r.ring_elem, weights=sgn * ring_a2 / 2.0,
                     minlength=n)
    ax = np.bincount(r.ring_elem, weights=sgn * ring_cx / 2.0,
                     minlength=n)
    ay = np.bincount(r.ring_elem, weights=sgn * ring_cy / 2.0,
                     minlength=n)
    has_area = np.bincount(r.ring_elem[r.ring_closed],
                           minlength=n) > 0
    lw = np.bincount(r.ring_elem, weights=r._per_ring(seg),
                     minlength=n)
    lx = np.bincount(r.ring_elem, weights=r._per_ring(midx),
                     minlength=n)
    ly = np.bincount(r.ring_elem, weights=r._per_ring(midy),
                     minlength=n)
    has_line = np.bincount(r.ring_elem, minlength=n) > 0
    pw = np.bincount(r.pt_elem, minlength=n).astype(float)
    px = np.bincount(r.pt_elem, weights=r.pt_xy[:, 0], minlength=n)
    py = np.bincount(r.pt_elem, weights=r.pt_xy[:, 1], minlength=n)

    w = np.where(has_area, aw, np.where(has_line, lw, pw))
    wx = np.where(has_area, ax, np.where(has_line, lx, px))
    wy = np.where(has_area, ay, np.where(has_line, ly, py))
    ok = w != 0
    cx = np.where(ok, wx / np.where(ok, w, 1.0), np.nan)
    cy = np.where(ok, wy / np.where(ok, w, 1.0), np.nan)
    encoded = points_to_wkb(cx, cy)
    if ok.all() and not r.null.any():     # common case: no tail loop
        return encoded
    out = []
    for i in range(n):
        if r.null[i]:
            out.append(None)
        elif not ok[i]:                   # degenerate: exact fallback
            out.append(to_wkb(centroid(from_wkb(bytes(wkbs[i])))))
        else:
            out.append(encoded[i])
    return out


# ---------------------------------------------------------------------------
# buffer
# ---------------------------------------------------------------------------

def _clip_halfplane(pts: np.ndarray, a: float, b: float,
                    c: float) -> np.ndarray:
    """Sutherland–Hodgman: clip an open convex CCW ring to the
    half-plane a·x + b·y <= c. Returns the (possibly empty) open
    ring."""
    out: list = []
    n = len(pts)
    for i in range(n):
        p, q = pts[i], pts[(i + 1) % n]
        fp = a * p[0] + b * p[1] - c
        fq = a * q[0] + b * q[1] - c
        if fp <= 0:
            out.append(p)
        if (fp < 0) != (fq < 0) and fp != fq:
            t = fp / (fp - fq)
            out.append(p + t * (q - p))
    return np.asarray(out, dtype=float) if out else np.empty((0, 2))


def _erode_ring(ring: np.ndarray, d: float,
                quad_segs: int) -> list:
    """Morphological erosion of the region bounded by a SIMPLE closed
    CCW ring: the set of points at distance >= d from the complement.
    Returns a LIST of closed CCW rings — the surviving parts ([] when
    the region erodes away; more than one when the erosion SPLITS the
    region at a waist, r8 verdict ask #3 — JTS `buffer(-d)` returns
    the same MULTIPOLYGON).

    CONVEX rings are exact: erosion of a convex polygon is the
    intersection of its edges' inward half-planes (edges may vanish
    from the result; the region vanishes iff the inradius < d) —
    computed by successive half-plane clipping, no arcs exist.

    NON-CONVEX rings use the symmetric offset construction (miter at
    convex vertices = intersection of adjacent inward offset lines;
    arc of radius d at REFLEX vertices, the clockwise-sweeping dual
    of the dilation arc). A SELF-INTERSECTING offset curve means the
    region splits: `_winding_decompose` nodes the curve against
    itself and keeps the faces that classify inside-and-deep-enough
    (the inverted pockets between crossings are the over-eroded
    waist). The remaining refusal is an
    offset edge CONSUMED by its miters (d beyond the local concavity
    feature size — a vanish this construction cannot localize)."""
    pts = np.asarray(ring, dtype=float)[:-1]
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = np.any(pts[1:] != pts[:-1], axis=1)
    pts = pts[keep]
    if len(pts) < 3:
        raise ValueError("buffer: degenerate ring")
    ev = np.roll(pts, -1, axis=0) - pts
    norm = np.hypot(ev[:, 0], ev[:, 1])
    nx, ny = ev[:, 1] / norm, -ev[:, 0] / norm     # outward normals
    crosses = (np.roll(ev, 1, axis=0)[:, 0] * ev[:, 1]
               - np.roll(ev, 1, axis=0)[:, 1] * ev[:, 0])
    m = len(pts)
    if np.all(crosses > -1e-12):                   # convex: exact clip
        cur = pts
        for i in range(m):
            # inward half-plane of edge i: n·x <= n·p_i - d
            c = nx[i] * pts[i][0] + ny[i] * pts[i][1] - d
            cur = _clip_halfplane(cur, nx[i], ny[i], c)
            if len(cur) < 3:
                return []
        if abs(_ring_signed_area2(np.vstack([cur, cur[:1]]))) < 1e-18:
            return []
        return [np.vstack([cur, cur[:1]])]
    reflex = crosses < -1e-12
    step = (np.pi / 2) / quad_segs
    miter: dict = {}
    for j in np.nonzero(~reflex)[0]:               # convex → miter
        i = (j - 1) % m
        p = pts[j] - d * np.array([nx[i], ny[i]])
        q = pts[j] - d * np.array([nx[j], ny[j]])
        denom = ev[i, 0] * ev[j, 1] - ev[i, 1] * ev[j, 0]
        if abs(denom) < 1e-12 * norm[i] * norm[j]:
            if np.hypot(*(p - q)) < 1e-9 * max(1.0, d):
                miter[j] = p                       # collinear vertex
                continue
            raise ValueError("buffer: degenerate convex vertex "
                             "(collinear fold)")
        t = ((q[0] - p[0]) * ev[j, 1] - (q[1] - p[1]) * ev[j, 0]) / denom
        miter[j] = p + t * ev[i]
    def _build_mitered() -> np.ndarray:
        # trimmed mitered offset: EXACT for erosions that stay simple
        # (the fast path); raises when a miter consumes its edge
        out: list = []
        for i in range(m):
            j = (i + 1) % m
            start = miter[i] if not reflex[i] else \
                pts[i] - d * np.array([nx[i], ny[i]])
            end = miter[j] if not reflex[j] else \
                pts[j] - d * np.array([nx[i], ny[i]])
            if (end - start) @ ev[i] <= 1e-12 * norm[i]:
                raise ValueError("buffer: erosion exceeds local "
                                 "feature size (offset edge consumed)")
            out.append(start)
            out.append(end)
            if reflex[j]:
                # clockwise arc at the reflex vertex from -n_i to -n_j
                w = pts[j]
                a0 = np.arctan2(ny[i], nx[i])
                a1 = np.arctan2(ny[j], nx[j])
                sweep = (a0 - a1) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 - sweep * t / k
                        out.append(w - d * np.array([np.cos(a),
                                                     np.sin(a)]))
        arr = np.vstack(out)
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(np.abs(arr[1:] - arr[:-1]) > 1e-12, axis=1)
        return arr[keep]

    def _build_raw() -> np.ndarray:
        # the RAW offset curve of Chen & McMains 2005: FULL edge
        # translates (no trimming — adjacent translates cross at the
        # would-be miter) joined by a radius-d arc at EVERY vertex,
        # swept along the vertex's turn: clockwise at reflex vertices
        # (real erosion arcs), counter-clockwise at convex ones (the
        # backward connector whose pocket winds <= 0). For this curve
        # the true eroded region is EXACTLY {p : winding >= 1},
        # consumed/reversed edges included.
        out: list = []
        for i in range(m):
            j = (i + 1) % m
            out.append(pts[i] - d * np.array([nx[i], ny[i]]))
            out.append(pts[j] - d * np.array([nx[i], ny[i]]))
            a0 = np.arctan2(ny[i], nx[i])
            a1 = np.arctan2(ny[j], nx[j])
            w = pts[j]
            if crosses[j] < -1e-12:          # reflex: clockwise
                sweep = (a0 - a1) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 - sweep * t / k
                        out.append(w - d * np.array([np.cos(a),
                                                     np.sin(a)]))
            elif crosses[j] > 1e-12:         # convex: counter-cw
                sweep = (a1 - a0) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 + sweep * t / k
                        out.append(w - d * np.array([np.cos(a),
                                                     np.sin(a)]))
        arr = np.vstack(out)
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(np.abs(arr[1:] - arr[:-1]) > 1e-12, axis=1)
        if np.all(np.abs(arr[-1] - arr[0]) <= 1e-12):
            keep[-1] = False
        return arr[keep]

    try:
        arr = _build_mitered()
        if _ring_is_simple(arr):
            closed_ = np.vstack([arr, arr[:1]])
            return [closed_] if _ring_signed_area2(closed_) > 0 else []
    except ValueError:
        pass
    # the mitered curve is consumed or self-intersects — the region
    # SPLITS at a waist or partially/fully vanishes. Rebuild as the
    # RAW arc-connected curve and recover exactly {winding >= 1},
    # the true offset region (Chen & McMains 2005), matching JTS
    # buffer(-d) up to arc discretization.
    arr = _build_raw()
    if len(arr) < 3:
        return []
    closed_ = np.vstack([arr, arr[:1]])
    ring_orig = np.vstack([pts, pts[:1]])
    loops = _winding_decompose(closed_, ring_orig, d, step)
    # numeric backstop (never silent): a kept face is true-region by
    # classification, so its boundary vertices must sit at >= d from
    # the input minus the inscribed-chord sag (a crossing of two
    # sagging chords can sit up to 2·d·(1−cos(step/2)) inside)
    sag = d * (1.0 - np.cos(step / 2.0))
    floor = d - 2.0 * sag - 1e-9 * d
    for lp in loops:
        dmin = min(_min_dist_to_ring(v, ring_orig) for v in lp[:-1])
        if dmin < floor:
            raise ValueError("buffer: erosion part fails the distance "
                             "backstop (numeric resolution)")
    return loops


def _min_dist_to_ring(pt: np.ndarray, ring: np.ndarray) -> float:
    """Min distance from a point to a closed ring's segments."""
    a, b = ring[:-1], ring[1:]
    ab = b - a
    L2 = (ab * ab).sum(axis=1)
    ap = pt - a
    t = np.clip((ap * ab).sum(axis=1) / np.where(L2 > 0, L2, 1.0),
                0.0, 1.0)
    dv = a + t[:, None] * ab - pt
    return float(np.sqrt((dv * dv).sum(axis=1).min()))


def _winding(pt, curve: np.ndarray) -> int:
    """Winding number of a closed polyline around a point (Sunday's
    signed-crossing form). The point must be OFF the curve."""
    x, y = float(pt[0]), float(pt[1])
    a, b = curve[:-1], curve[1:]
    up = (a[:, 1] <= y) & (b[:, 1] > y)
    dn = (a[:, 1] > y) & (b[:, 1] <= y)
    cr = ((b[:, 0] - a[:, 0]) * (y - a[:, 1])
          - (b[:, 1] - a[:, 1]) * (x - a[:, 0]))
    return int(np.count_nonzero(up & (cr > 0))
               - np.count_nonzero(dn & (cr < 0)))


def _winding_decompose(arr: np.ndarray, ring_orig: np.ndarray,
                       d: float, step: float,
                       dilate: bool = False) -> list:
    """Erosion parts from the RAW self-intersecting offset curve, in
    the spirit of Chen & McMains 2005 ("Polygon Offsetting by
    Computing Winding Numbers"): self-node the curve (`_seg_events`
    over non-adjacent edge pairs), count the DIRECTED multiplicity of
    every noded segment, get the left-side winding by ray casting
    from a clearance-displaced midpoint (right side = left − net
    multiplicity), keep segments where exactly one side winds >= 1
    oriented covered-left, and face-trace into loops
    (`_trace_loops`). {winding >= 1} CONTAINS the true region but can
    carry spurious pockets under deeply-consumed edges (verified
    empirically — a d≫feature-size dumbbell leaves a +1 pocket at
    the neck center inside a −1 sea), so each traced FACE is then
    classified by THE DEFINITION on one interior sample — inside the
    input ring and at distance >= d (minus the inscribed-chord sag)
    from it. Faces are uniform: the true erosion boundary is a
    subset of the arrangement, so no face straddles it. A face
    thinner than the sag band can drop — the same resolution limit
    as JTS's quadrant-segment discretization. A CW loop (a hole in a
    part) classifying TRUE raises — erosion of a simply-connected
    region has simply-connected parts."""
    pts = arr[:-1]
    n = len(pts)
    span = max(1.0, float(np.abs(pts).max()))
    nodes = _Nodes(1e-9 * span)
    vid = [nodes.add(float(x), float(y)) for x, y in pts]
    per_edge: dict = {i: [] for i in range(n)}
    boxes = [(min(pts[i][0], pts[(i + 1) % n][0]),
              min(pts[i][1], pts[(i + 1) % n][1]),
              max(pts[i][0], pts[(i + 1) % n][0]),
              max(pts[i][1], pts[(i + 1) % n][1])) for i in range(n)]
    for i in range(n):
        p, q = pts[i], pts[(i + 1) % n]
        bi = boxes[i]
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue               # adjacent through closure
            bj = boxes[j]
            if (bj[2] < bi[0] or bj[0] > bi[2]
                    or bj[3] < bi[1] or bj[1] > bi[3]):
                continue
            for t, u, pt in _seg_events(p, q, pts[j], pts[(j + 1) % n]):
                nid = nodes.add(pt[0], pt[1])
                per_edge[i].append((t, nid))
                per_edge[j].append((u, nid))
    seg_mult: dict = {}        # (lo,hi) → [m_forward, m_backward]
    for i in range(n):
        evs = ([(0.0, vid[i]), (1.0, vid[(i + 1) % n])]
               + per_edge[i])
        prev = None
        for _t, nid in sorted(evs, key=lambda e: e[0]):
            if prev is not None and nid != prev:
                lo, hi = (prev, nid) if prev < nid else (nid, prev)
                mult = seg_mult.setdefault((lo, hi), [0, 0])
                mult[0 if prev == lo else 1] += 1
            prev = nid
    npts = nodes.pts
    segs = list(seg_mult.items())
    # vectorized point→segment clearance over the WHOLE arrangement:
    # the interpreted per-midpoint double loop was O(S²) Python —
    # a latency cliff on high-vertex fallback curves
    seg_a = np.asarray([npts[lo] for (lo, _hi), _m in segs],
                       dtype=float).reshape(-1, 2)
    seg_b = np.asarray([npts[hi] for (_lo, hi), _m in segs],
                       dtype=float).reshape(-1, 2)
    seg_d = seg_b - seg_a
    seg_l2 = (seg_d * seg_d).sum(axis=1)
    seg_l2safe = np.where(seg_l2 > 0.0, seg_l2, 1.0)

    def _clear_dists(mx: float, my: float) -> np.ndarray:
        t = np.clip(((mx - seg_a[:, 0]) * seg_d[:, 0]
                     + (my - seg_a[:, 1]) * seg_d[:, 1]) / seg_l2safe,
                    0.0, 1.0)
        return np.hypot(seg_a[:, 0] + t * seg_d[:, 0] - mx,
                        seg_a[:, 1] + t * seg_d[:, 1] - my)

    bedges: list = []
    for si, ((lo, hi), (mf, mb)) in enumerate(segs):
        ax, ay = npts[lo]
        bx, by = npts[hi]
        mx, my = (ax + bx) / 2.0, (ay + by) / 2.0
        dd_all = _clear_dists(mx, my)
        dd_all[si] = np.inf
        clear = float(dd_all.min()) if len(dd_all) > 1 else np.inf
        dx, dy = bx - ax, by - ay
        ln = float(np.hypot(dx, dy))
        if not np.isfinite(clear) or clear <= 0 or ln <= 0:
            raise ValueError("buffer: erosion winding resolution "
                             "failed (coincident geometry)")
        delta = min(clear, ln) / 2.0
        w_left = _winding((mx - dy / ln * delta, my + dx / ln * delta),
                          arr)
        w_right = w_left - (mf - mb)
        covl, covr = w_left >= 1, w_right >= 1
        if covl == covr:
            continue
        bedges.append((lo, hi) if covl else (hi, lo))
    sag = d * (1.0 - np.cos(step / 2.0))
    floor = d - 2.0 * sag - 1e-9 * d

    def _face_sample(lp: np.ndarray):
        # interior point of the face left of the loop's first edge:
        # its midpoint displaced by half the clearance to any other
        # arrangement segment (its own segment measures ~0 — skipped)
        mx, my = (lp[0] + lp[1]) / 2.0
        dd_all = _clear_dists(float(mx), float(my))
        dd_all[dd_all <= 1e-12 * span] = np.inf
        clear = float(dd_all.min()) if len(dd_all) else np.inf
        dx, dy = lp[1][0] - lp[0][0], lp[1][1] - lp[0][1]
        ln = float(np.hypot(dx, dy))
        if not np.isfinite(clear) or clear <= 0 or ln <= 0:
            raise ValueError("buffer: erosion face resolution failed "
                             "(coincident geometry)")
        delta = min(clear, ln) / 2.0
        return np.array([mx - dy / ln * delta, my + dx / ln * delta])

    out: list = []
    for lp in _trace_loops(bedges, npts):
        if dilate:
            # OUTWARD offsets are the proven Chen & McMains case —
            # {winding >= 1} IS the dilation (no consumed edges), so
            # the winding filter suffices; backstop: every boundary
            # vertex must sit within the chord-sag band of d
            dbad = max(abs(_min_dist_to_ring(v, ring_orig) - d)
                       for v in lp[:-1])
            if dbad > 2.0 * sag + 1e-9 * d:
                raise ValueError("buffer: dilation boundary off the "
                                 "distance band (numeric resolution)")
            keep = True
        else:
            # INWARD offsets carry spurious {w >= 1} pockets under
            # deeply-consumed edges: classify the face by THE
            # DEFINITION on one interior sample
            s = _face_sample(lp)
            keep = (_point_in_ring(s, ring_orig)
                    and _min_dist_to_ring(s, ring_orig) >= floor)
        if not keep:
            continue                   # spurious winding pocket
        a2 = _ring_signed_area2(lp)
        if a2 == 0 or (a2 < 0 and not dilate):
            # erosion of a simply-connected region has simply-
            # connected parts; dilation CAN close a corridor around
            # a courtyard, so CW holes are legal there
            raise ValueError("buffer: offset produced a hole or "
                             "zero-area loop (numeric resolution)")
        out.append(lp)
    return out


class _HoledTopologyChange(ValueError):
    """Internal signal: holed-polygon erosion changes topology (hole
    breaches shell / holes merge / hole nests in a courtyard). The
    fast ring-containment composition cannot express the result;
    `buffer` catches this and recomputes through the constructive
    overlay (`difference`), which handles every such case."""


def _erode_holed_overlay(shells: list, holes, d: float,
                         quad_segs: int) -> "Geometry | None":
    """Erosion of a holed polygon as pure set algebra:
    erode(shell) \\ ⋃ dilate(hole) — the noded-overlay `difference`
    folds each dilated hole through the surviving pieces, so shell
    breaches, hole merges, courtyard islands and nested-courtyard
    cases all COMPUTE (sequential subtraction equals subtracting the
    union, overlapping subtrahends included). Slower than the ring
    composition fast path, which is why it only runs when that path
    signals a topology change."""
    res = _geom_from_polys([[s] for s in shells])
    for h in holes:
        hd = buffer(Geometry("POLYGON", [_norm_ring(h, ccw=True)]),
                    d, quad_segs)
        res = difference(res, hd)
        if res is None:
            return None
    return res


def _erode_holed_fast(g: "Geometry", shells: list, d: float,
                      quad_segs: int) -> "Geometry":
    """Ring-composition erosion of a holed polygon (see `buffer`):
    dilate each hole, require it inside exactly one eroded shell
    part and pairwise separate, compose rings directly — no noding.
    Raises `_HoledTopologyChange` when the composition cannot
    express the result (caller falls back to the overlay)."""
    holes: list = []
    islands: list = []       # courtyard survivors (see below)
    island_parent: list = []
    for h in g.coords[1:]:
        hd = buffer(Geometry("POLYGON",
                             [_norm_ring(h, ccw=True)]),
                    d, quad_segs)
        if hd.kind != "POLYGON":
            # dilation of a connected region is connected; if the
            # winding fallback ever classifies a numeric edge case
            # as MULTI parts, the overlay fallback still computes
            # the erosion correctly — recoverable, not fatal
            raise _HoledTopologyChange("hole dilation produced "
                                       "disconnected parts")
        holes.append(np.asarray(hd.coords[0], dtype=float))
        # a hole whose neck closes under dilation encloses a
        # COURTYARD it does not cover: material there deeper
        # than d from every boundary survives as a separate
        # part (an island), exactly the courtyard face
        for c in hd.coords[1:]:
            islands.append(_norm_ring(np.asarray(c, dtype=float),
                                      ccw=True))
            island_parent.append(len(holes) - 1)
    for i in range(len(holes)):
        for j in range(i + 1, len(holes)):
            if _rings_may_touch(holes[i], holes[j]):
                raise _HoledTopologyChange("erosion merges holes")
    part_holes: list = [[] for _ in shells]
    for h in holes:
        inside = [i for i, s in enumerate(shells)
                  if all(_point_in_ring(p, s) for p in h[:-1])]
        # vertex containment alone misses a straight hole edge
        # crossing a shell notch mid-span (r8 advice #1): also
        # require NO segment-level crossing with the kept shell
        if (len(inside) != 1
                or _any_segment_intersection(h, shells[inside[0]])):
            raise _HoledTopologyChange("dilated hole breaches the "
                                       "eroded shell")
        part_holes[inside[0]].append(h[::-1])
    # an island must be free of every OTHER dilated hole (its
    # own parent ring may legally share the pinch node with it);
    # a hole nested inside a courtyard needs recursive annulus
    # subtraction — exactly what the overlay fallback does
    for c, par in zip(islands, island_parent):
        for j, hr in enumerate(holes):
            if j == par:
                continue
            if (_rings_may_touch(c, hr)
                    or all(_point_in_ring(p, c) for p in hr[:-1])):
                raise _HoledTopologyChange("hole dilation nests "
                                           "another hole inside a "
                                           "courtyard")
    parts = [Geometry("POLYGON", [s] + ph)
             for s, ph in zip(shells, part_holes)]
    parts += [Geometry("POLYGON", [c]) for c in islands]
    if len(parts) == 1:
        return parts[0]
    # the erosion SPLIT the region at a waist (r9): the surviving
    # parts come back as a MULTIPOLYGON, as JTS buffer(-d) does
    return Geometry("MULTIPOLYGON", parts)


def buffer(g: Geometry, dist: float, quad_segs: int = 8) -> Geometry:
    """Positive buffer (JTS `buffer(d)` with quadrantSegments=8): the
    Minkowski sum of the geometry with a disc of radius ``dist``,
    arcs approximated by inscribed segments (quad_segs per quarter
    circle, so a POINT buffers to a regular 4*quad_segs-gon).

    Supported:

    * POINT — regular 4*quad_segs-gon;
    * SIMPLE single-ring POLYGON, convex or CONCAVE — the offset
      polygon: edges pushed outward along their normals, CONVEX
      vertices rounded with arcs, REFLEX (concave) vertices joined at
      the intersection of the adjacent offset edge lines (the offset
      edges are trimmed — exactly the boundary of the true Minkowski
      sum as long as the offset curve stays simple). If ``dist``
      exceeds the concavity depth the offset curve self-intersects
      globally; that is detected (O(n^2) segment check + trim
      validity) and the dilation is rebuilt from the raw
      arc-connected curve via winding-classified faces (r9 — total,
      like erosion; deep concavities and courtyard mints compute);
    * LINESTRING — the stroke/corridor polygon: the polyline's
      Minkowski disc sum computed as the dilation of its degenerate
      flat ring (forward + reverse walk) — round end caps and bend
      arcs fall out of the same arc/miter machinery; hairpins
      tighter than ``dist`` compute through the same winding
      fallback;
    * MULTIPOINT / MULTILINESTRING / MULTIPOLYGON — per-part
      buffering, returned as a MULTIPOLYGON when the part buffers
      are PAIRWISE DISJOINT; overlapping part buffers dissolve into
      their true union via the boundary-trace overlay.

    For a convex input the buffered area has the closed form
    A + P*d + n*sin(2*pi/n)*d^2/2 (n = 4*quad_segs); with reflex
    vertices each contributes its (negative-turn) miter trim instead
    of an arc — the sql_st_buffer oracle pins an L-shape's closed
    form exactly. Reference parity note: the reference engine exposes
    no geometric buffer at all — SURVEY/PARITY record within-distance
    as the predicate-side substitute; this covers the constructive
    "give me the zone polygon" use.

    r8 extensions (JTS-shaped): HOLED polygons are supported — a
    positive buffer dilates the shell and ERODES each hole by
    ``dist`` (holes that erode away vanish); NEGATIVE ``dist`` is
    morphological erosion — the shell erodes (convex shells exactly
    via half-plane clipping, non-convex via the dual offset
    construction; see `_erode_ring`) and holes DILATE. Returns None
    when the geometry erodes away entirely (the SQL surface maps it
    to NULL). Topology changes COMPUTE: waist splits return
    MULTIPOLYGON parts (r9), and holed-polygon erosions whose ring
    composition breaks (hole breaches the shell, holes merge, a hole
    nests inside a courtyard) fall back to the constructive overlay
    erode(shell) \\ ⋃ dilate(hole) (r10, `_erode_holed_overlay`) —
    the buffer surface has no semantic refusal class left; remaining
    raises are degenerate inputs and internal invariants only.
    """
    if dist == 0 or not np.isfinite(dist):
        raise ValueError("buffer: dist must be a nonzero finite value")
    n_arc = 4 * int(quad_segs)
    if dist < 0:
        if g.kind in ("POINT", "MULTIPOINT",
                      "LINESTRING", "MULTILINESTRING"):
            return None                  # no interior → erodes away
        if g.kind == "MULTIPOLYGON":
            parts = [buffer(p, dist, quad_segs) for p in g.parts()]
            # a part's erosion can itself be a MULTIPOLYGON (waist
            # split) — flatten, else the result would nest 0106
            # inside 0106 (invalid OGC WKB)
            parts = [q for p in parts if p is not None
                     for q in (p.parts() if p.kind == "MULTIPOLYGON"
                               else [p])]
            if not parts:
                return None
            if len(parts) == 1:
                return parts[0]
            return Geometry("MULTIPOLYGON", parts)
        if g.kind != "POLYGON":
            raise ValueError(f"buffer: cannot erode {g.kind}")
        d = -float(dist)
        shells = _erode_ring(_norm_ring(g.coords[0], ccw=True), d,
                             quad_segs)
        if not shells:
            return None
        # holes DILATE under erosion. Fast path: each dilated hole
        # stays inside ONE eroded shell part and pairwise separate —
        # pure ring composition, no noding. Any topology change
        # (hole merge / shell breach / courtyard nesting) signals
        # `_HoledTopologyChange` and the constructive overlay
        # recomputes the same set algebra totally.
        try:
            return _erode_holed_fast(g, shells, d, quad_segs)
        except _HoledTopologyChange:
            return _erode_holed_overlay(shells, g.coords[1:], d,
                                        quad_segs)
    if g.kind == "POINT":
        cx, cy = float(g.coords[0]), float(g.coords[1])
        ang = np.arange(n_arc) * (2 * np.pi / n_arc)
        ring = np.c_[cx + dist * np.cos(ang), cy + dist * np.sin(ang)]
        return Geometry("POLYGON", [np.vstack([ring, ring[0]])])
    if g.kind == "LINESTRING":
        # stroke/corridor buffer: the polyline's Minkowski disc sum is
        # the dilation of its degenerate FLAT RING (forward + reverse
        # walk, zero enclosed area) — end caps and bend arcs fall out
        # of the same arc/miter treatment (the 180° end vertex is
        # non-reflex → a half-circle cap; each interior bend is reflex
        # on one side, convex on the other). d beyond the local bend
        # radius raises via the standard offset-validity checks.
        pts = np.asarray(g.coords, dtype=float)
        keep = np.ones(len(pts), dtype=bool)
        keep[1:] = np.any(pts[1:] != pts[:-1], axis=1)
        pts = pts[keep]
        if len(pts) < 2:
            raise ValueError("buffer: degenerate LINESTRING")
        if len(pts) == 2:
            # two-point capsule built directly: rectangle + two
            # half-circle caps with the standard arc discretization
            p0, p1 = pts[0], pts[1]
            ev = p1 - p0
            ln = float(np.hypot(*ev))
            nxy = np.array([ev[1], -ev[0]]) / ln
            a0 = np.arctan2(nxy[1], nxy[0])
            k = 2 * int(quad_segs)
            cap1 = [p1 + dist * np.array([np.cos(a0 + np.pi * t / k),
                                          np.sin(a0 + np.pi * t / k)])
                    for t in range(k + 1)]
            a1 = a0 + np.pi
            cap0 = [p0 + dist * np.array([np.cos(a1 + np.pi * t / k),
                                          np.sin(a1 + np.pi * t / k)])
                    for t in range(k + 1)]
            arr = np.vstack(cap1 + cap0)
            return Geometry("POLYGON", [np.vstack([arr, arr[:1]])])
        flat = np.vstack([pts, pts[-2:0:-1], pts[:1]])
        return buffer(Geometry("POLYGON", [flat]), dist, quad_segs)
    if g.kind == "MULTILINESTRING":
        parts = [buffer(p, dist, quad_segs) for p in g.parts()]
        # corridor parts may be HOLED (a closed-loop part encloses a
        # courtyard) or MULTIPOLYGON (pinched hairpin): flatten to
        # validated polygons and dissolve through the full overlay —
        # the old rings-only union dropped courtyard holes (r9 fix)
        polys: list = []
        for p in parts:
            if p.kind == "POLYGON":
                polys.append(_norm_poly(p.coords))
            else:
                polys.extend(_norm_poly(q.coords) for q in p.parts())
        if len(polys) == 1:
            return parts[0]
        overlap = any(
            _rings_may_touch(np.asarray(polys[i][0]),
                             np.asarray(polys[j][0]))
            for i in range(len(polys))
            for j in range(i + 1, len(polys)))
        if overlap:
            return _geom_from_polys(_union_tree(polys))
        return Geometry("MULTIPOLYGON",
                        [Geometry("POLYGON", list(pp)) for pp in polys])
    if g.kind in ("MULTIPOINT", "MULTIPOLYGON"):
        parts = [buffer(p, dist, quad_segs) for p in g.parts()]
        if all(len(p.coords) == 1 for p in parts):
            rings = [np.asarray(p.coords[0], dtype=float)
                     for p in parts]
            overlap = any(
                _rings_may_touch(rings[i], rings[j])
                for i in range(len(rings))
                for j in range(i + 1, len(rings)))
            if overlap:
                # dissolve overlapping part buffers into their
                # true union (noded overlay; tangent/abutting discs
                # compute since r9; a union-enclosed courtyard comes
                # back as a HOLED polygon)
                return _geom_from_polys(_union_rings(rings))
            return Geometry("MULTIPOLYGON", parts)
        # holed/multi part buffers: flatten to validated polygons and
        # dissolve via the full overlay (a part's buffer may itself
        # be a MULTIPOLYGON since the r9 pinch handling)
        polys = []
        for p in parts:
            if p.kind == "POLYGON":
                polys.append(_norm_poly(p.coords))
            else:
                polys.extend(_norm_poly(q.coords) for q in p.parts())
        disjoint = all(
            not _rings_may_touch(np.asarray(polys[i][0]),
                                 np.asarray(polys[j][0]))
            for i in range(len(polys)) for j in range(i + 1, len(polys)))
        if disjoint:
            return Geometry("MULTIPOLYGON",
                            [Geometry("POLYGON", list(pp))
                             for pp in polys])
        return _geom_from_polys(_union_tree(polys))
    if g.kind != "POLYGON":
        raise ValueError("buffer: only POINT, LINESTRING, POLYGON "
                         "and their MULTI* kinds are supported")
    if len(g.coords) > 1:
        # holed polygon, positive buffer: shell dilates, holes erode
        shell_geom = buffer(Geometry("POLYGON",
                                     [np.asarray(g.coords[0],
                                                 dtype=float)]),
                            dist, quad_segs)
        if shell_geom.kind != "POLYGON":
            # dilation of a connected region is connected
            raise ValueError("buffer: shell dilation produced "
                             "disconnected parts")
        # the shell dilation may CLOSE a neck and mint courtyard
        # holes of its own (a flask mouth sealing shut); they are
        # outside the original shell ring, so disjoint from every
        # eroded original hole — keep them all
        holes = [np.asarray(c, dtype=float)
                 for c in shell_geom.coords[1:]]
        for h in g.coords[1:]:
            # a hole may survive shrunken, vanish, or SPLIT into
            # several smaller holes (r9 — eroding a waisted hole)
            for hr in _erode_ring(_norm_ring(h, ccw=True),
                                  float(dist), quad_segs):
                holes.append(hr[::-1])
        return Geometry("POLYGON",
                        [np.asarray(shell_geom.coords[0],
                                    dtype=float)] + holes)
    ring = np.asarray(g.coords[0], dtype=float)[:-1]   # drop closing dup
    if _ring_signed_area2(np.vstack([ring, ring[0]])) < 0:
        ring = ring[::-1]                              # force CCW
    # drop consecutive duplicate vertices
    keep = np.ones(len(ring), dtype=bool)
    keep[1:] = np.any(ring[1:] != ring[:-1], axis=1)
    ring = ring[keep]
    if len(ring) < 3:
        raise ValueError("buffer: degenerate ring")
    d = np.roll(ring, -1, axis=0) - ring               # edge vectors
    # outward normal of a CCW edge = direction rotated -90deg
    norm = np.hypot(d[:, 0], d[:, 1])
    nx, ny = d[:, 1] / norm, -d[:, 0] / norm
    m = len(ring)
    # turn at vertex j (between edge j-1 and edge j): reflex iff the
    # cross product of consecutive edge vectors is negative
    crosses = (np.roll(d, 1, axis=0)[:, 0] * d[:, 1]
               - np.roll(d, 1, axis=0)[:, 1] * d[:, 0])
    reflex = crosses < -1e-12
    step = (np.pi / 2) / quad_segs

    def _dil_mitered() -> np.ndarray:
        # trimmed offset: miters at REFLEX vertices, arcs at convex —
        # EXACT while the offset curve stays simple (the fast path);
        # raises when dist exceeds the local concavity depth
        miter = {}
        for j in np.nonzero(reflex)[0]:
            i = (j - 1) % m
            p = ring[j] + dist * np.array([nx[i], ny[i]])
            q = ring[j] + dist * np.array([nx[j], ny[j]])
            denom = d[i, 0] * d[j, 1] - d[i, 1] * d[j, 0]
            if abs(denom) < 1e-12 * norm[i] * norm[j]:
                raise ValueError("buffer: degenerate reflex vertex "
                                 "(collinear fold)")
            t = ((q[0] - p[0]) * d[j, 1]
                 - (q[1] - p[1]) * d[j, 0]) / denom
            miter[j] = p + t * d[i]
        pts = []
        for i in range(m):
            j = (i + 1) % m
            start = miter[i] if reflex[i] else \
                ring[i] + dist * np.array([nx[i], ny[i]])
            end = miter[j] if reflex[j] else \
                ring[j] + dist * np.array([nx[i], ny[i]])
            # trimmed offset edge must still advance along the edge
            # direction, else dist exceeds the local concavity depth
            if (end - start) @ d[i] <= 1e-12 * norm[i]:
                raise ValueError("buffer: dist too large for "
                                 "concavity (offset edge consumed)")
            pts.append(start)
            pts.append(end)
            if not reflex[j]:
                # arc at the NEXT vertex: normal i → normal j (CCW)
                w = ring[j]
                a0 = np.arctan2(ny[i], nx[i])
                a1 = np.arctan2(ny[j], nx[j])
                sweep = (a1 - a0) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 + sweep * t / k
                        pts.append(w + dist * np.array([np.cos(a),
                                                        np.sin(a)]))
        arr = np.vstack(pts)
        # drop consecutive duplicates from shared miter points
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(np.abs(arr[1:] - arr[:-1]) > 1e-12, axis=1)
        return arr[keep]

    def _dil_raw() -> np.ndarray:
        # the RAW outward-offset curve (Chen & McMains 2005): FULL
        # edge translates joined by a radius-dist arc at EVERY
        # vertex — counter-clockwise at convex (real dilation arcs),
        # clockwise at reflex (backward connectors whose pockets
        # wind <= 0); handles hairpins and over-deep concavities
        pts = []
        for i in range(m):
            j = (i + 1) % m
            pts.append(ring[i] + dist * np.array([nx[i], ny[i]]))
            pts.append(ring[j] + dist * np.array([nx[i], ny[i]]))
            a0 = np.arctan2(ny[i], nx[i])
            a1 = np.arctan2(ny[j], nx[j])
            w = ring[j]
            if crosses[j] < -1e-12:              # reflex: cw back
                sweep = (a0 - a1) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 - sweep * t / k
                        pts.append(w + dist * np.array([np.cos(a),
                                                        np.sin(a)]))
            else:                                # convex OR 180° cap
                # crosses == 0 with opposite normals is a flat-ring
                # hairpin endpoint: the ccw π-sweep IS the end cap
                sweep = (a1 - a0) % (2 * np.pi)
                if sweep > 1e-12:
                    k = int(np.ceil(sweep / step))
                    for t in range(1, k):
                        a = a0 + sweep * t / k
                        pts.append(w + dist * np.array([np.cos(a),
                                                        np.sin(a)]))
        arr = np.vstack(pts)
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(np.abs(arr[1:] - arr[:-1]) > 1e-12, axis=1)
        if np.all(np.abs(arr[-1] - arr[0]) <= 1e-12):
            keep[-1] = False
        return arr[keep]

    try:
        arr = _dil_mitered()
        if not (reflex.any() and not _ring_is_simple(arr)):
            out = np.vstack([arr, arr[0]])
            return Geometry("POLYGON", [out])
    except ValueError:
        pass
    # dist exceeds the local concavity depth (or a hairpin folds the
    # offset): rebuild as the raw arc-connected curve and recover the
    # dilation as its winding-classified faces — total, like erosion
    arr = _dil_raw()
    closed_ = np.vstack([arr, arr[:1]])
    if _ring_signed_area2(closed_) < 0:
        # flat rings (polyline corridors) have no intrinsic
        # orientation — normalize so the corridor winds positive
        closed_ = closed_[::-1].copy()
    ring_closed = np.vstack([ring, ring[:1]])
    loops = _winding_decompose(closed_, ring_closed,
                               float(dist), step, dilate=True)
    shells = [lp for lp in loops if _ring_signed_area2(lp) > 0]
    holes = [lp for lp in loops if _ring_signed_area2(lp) < 0]
    if not shells:
        raise ValueError("buffer: dilation produced no region "
                         "(numeric resolution)")
    polys = [[s] for s in shells]
    for hh in holes:
        # a corridor can close around a COURTYARD: nest the hole
        # under its innermost containing shell (probe = first-edge
        # midpoint, never a node)
        probe = (hh[0] + hh[1]) / 2.0
        cands = [i for i, s_ in enumerate(shells)
                 if _point_in_ring(probe, s_)]
        if not cands:
            raise ValueError("buffer: dilation hole outside every "
                             "shell (numeric resolution)")
        best = min(cands,
                   key=lambda i: abs(_ring_signed_area2(shells[i])))
        polys[best].append(hh)
    if len(polys) == 1:
        return Geometry("POLYGON", list(polys[0]))
    # tangential pinch only — parts meeting at isolated points
    return Geometry("MULTIPOLYGON",
                    [Geometry("POLYGON", list(p)) for p in polys])


def _rings_may_touch(a: np.ndarray, b: np.ndarray) -> bool:
    """Conservative overlap check between two buffered-part rings:
    bbox intersection, then any segment-pair intersection or either
    ring's first vertex inside the other (containment)."""
    if (a[:, 0].max() < b[:, 0].min() or b[:, 0].max() < a[:, 0].min()
            or a[:, 1].max() < b[:, 1].min()
            or b[:, 1].max() < a[:, 1].min()):
        return False
    if _point_in_ring(a[0], b) or _point_in_ring(b[0], a):
        return True
    return _any_segment_intersection(a, b)


def _seg_events(p, q, r, s, eps: float = 1e-9):
    """All contact events between segments pq and rs, as a list of
    (t, u, (x, y)) with t the parameter on pq and u on rs, both in
    [0, 1]. Covers every contact class: a proper crossing (one
    event, same point arithmetic as the pre-r9 kernel — bit-stable),
    an endpoint touch / T-junction (one event, the point SNAPPED to
    the exact endpoint coordinates so node identity across pairs is
    float-exact for shared vertices), and a collinear overlap (two
    events — the overlap interval's endpoints, each of which is an
    exact endpoint of one of the segments). Disjoint segments → []."""
    dpx, dpy = q[0] - p[0], q[1] - p[1]
    drx, dry = s[0] - r[0], s[1] - r[1]
    den = dpx * dry - dpy * drx
    scale = max(abs(dpx) + abs(dpy), abs(drx) + abs(dry), eps)
    tol2 = eps * scale * scale

    def _u_of(pt) -> float:
        L2 = drx * drx + dry * dry
        if L2 <= 0:
            return 0.0
        u = ((pt[0] - r[0]) * drx + (pt[1] - r[1]) * dry) / L2
        if abs(u) < eps:
            return 0.0
        if abs(u - 1) < eps:
            return 1.0
        return u

    if abs(den) < tol2:
        # parallel: contact only if collinear AND the projections of
        # rs onto pq overlap [0, 1]
        c1 = (r[0] - p[0]) * dpy - (r[1] - p[1]) * dpx
        if abs(c1) >= tol2:
            return []
        L2 = dpx * dpx + dpy * dpy
        if L2 <= 0:
            return []
        t_r = ((r[0] - p[0]) * dpx + (r[1] - p[1]) * dpy) / L2
        t_s = ((s[0] - p[0]) * dpx + (s[1] - p[1]) * dpy) / L2
        lo_t, lo_pt = min((t_r, r), (t_s, s), key=lambda e: e[0])
        hi_t, hi_pt = max((t_r, r), (t_s, s), key=lambda e: e[0])
        if hi_t < -eps or lo_t > 1 + eps:
            return []
        evs = []
        # overlap-interval endpoints, each an EXACT endpoint of pq
        # or rs (never an interpolated point)
        if lo_t < eps:
            lo_t, lo_pt = 0.0, p
        if hi_t > 1 - eps:
            hi_t, hi_pt = 1.0, q
        evs.append((lo_t, _u_of(lo_pt), (float(lo_pt[0]),
                                         float(lo_pt[1]))))
        if hi_t - lo_t > eps:
            evs.append((hi_t, _u_of(hi_pt), (float(hi_pt[0]),
                                             float(hi_pt[1]))))
        return evs
    t = ((r[0] - p[0]) * dry - (r[1] - p[1]) * drx) / den
    u = ((r[0] - p[0]) * dpy - (r[1] - p[1]) * dpx) / den
    if t < -eps or t > 1 + eps or u < -eps or u > 1 + eps:
        return []
    if abs(t) < eps:
        t, pt = 0.0, p
    elif abs(t - 1) < eps:
        t, pt = 1.0, q
    elif abs(u) < eps:
        u, pt = 0.0, r
    elif abs(u - 1) < eps:
        u, pt = 1.0, s
    else:
        pt = (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))
    if abs(u) < eps:
        u = 0.0
    elif abs(u - 1) < eps:
        u = 1.0
    return [(t, u, (float(pt[0]), float(pt[1])))]


class _Nodes:
    """Tolerance-merging point index for the overlay's planar
    subdivision: ring vertices register first (so nodes carry EXACT
    input coordinates), computed crossings merge into an existing
    node when within tol (three concurrent edges can produce the
    same point twice with a 1-ulp spread)."""

    def __init__(self, tol: float):
        self.tol = tol
        self.pts: list = []
        self._buck: dict = {}

    def add(self, x: float, y: float) -> int:
        kx, ky = round(x / self.tol), round(y / self.tol)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                for nid in self._buck.get((kx + dx, ky + dy), ()):
                    px, py = self.pts[nid]
                    if abs(px - x) <= self.tol and abs(py - y) <= self.tol:
                        return nid
        nid = len(self.pts)
        self.pts.append((float(x), float(y)))
        self._buck.setdefault((kx, ky), []).append(nid)
        return nid


def _union_rings(rings: list) -> list:
    """Union of simple closed rings (each a hole-free polygon) — see
    `_trace_polys`. Returns POLYGONS: a list of ring-lists
    [shell, *holes]; a union CAN enclose a hole (e.g. a ring of
    overlapping buffers around a courtyard)."""
    return _union_tree([[r] for r in rings])


def _union_tree(polys: list, leaf: int = 64, axis: int = 0) -> list:
    """Union of many polygons via a balanced KD-style pairwise-merge
    tree — the dissolve path for LARGE groups (r8 verdict ask #4).
    ≤`leaf` inputs go through ONE `_trace_polys` pass, identical to
    the direct call (small-group dissolve results stay bit-stable);
    larger groups sort by bbox center on alternating axes for
    spatial locality, union each half recursively, and merge the two
    already-dissolved (hence much smaller) results. Turns the
    per-group O(N²) crossing scan into O(N log N · local merge) and
    caps the straggler risk for million-polygon dissolve groups.
    Requires the r9 degenerate-contact support: halves of an
    adjacent tiling meet along SHARED seams."""
    if len(polys) <= leaf:
        return _trace_polys(polys, "union")
    polys = sorted(polys, key=lambda p: float(p[0][:, axis].min()
                                              + p[0][:, axis].max()))
    mid = len(polys) // 2
    nxt = 1 - axis
    return _trace_polys(_union_tree(polys[:mid], leaf, nxt)
                        + _union_tree(polys[mid:], leaf, nxt), "union")


def _trace_polys(polys: list, mode: str) -> list:
    """Noded planar-subdivision overlay of VALID polygons. Each input
    polygon is a ring-list [shell, *holes] of closed rings (first ==
    last) with shell CCW and holes CW (`_norm_poly` produces this and
    validates simplicity / non-crossing / hole containment), so the
    polygon's interior lies to the LEFT of every boundary ring walked
    in stored order. Since r9 the engine handles DEGENERATE contact —
    shared/collinear edges, vertex touching (T-junctions, figure-
    eight), tangency — with regularized (area) semantics, matching
    what the reference inherits from JTS overlay for the same inputs
    (STObject.scala:209-233):

    1. NODE: every ring vertex and every pairwise contact between
       edges of different polygons (proper crossing, endpoint touch,
       collinear-overlap endpoints — `_seg_events`) becomes a node;
       edges split at their nodes into straight sub-edges, so
       coincident boundary stretches become IDENTICAL node pairs.
    2. CLASSIFY each undirected segment by per-polygon side coverage:
       a polygon with a boundary sub-edge on the segment covers the
       side to the LEFT of its stored direction; any other polygon
       covers both sides or neither (midpoint even-odd test — safe,
       a noded sub-edge interior meets no boundary). Mode combines
       coverage (union = OR, intersection = AND, difference =
       A AND NOT B); a segment is result boundary iff exactly one
       side is covered, emitted directed with the covered side LEFT.
       Shared edges with interiors on opposite sides vanish (interior
       seam); with interiors on the same side emit ONCE.
    3. TRACE: loops stitch with the face-tracing rule — after edge
       (a→b), continue with the outgoing edge at b first CLOCKWISE
       from the reversed direction (b→a) — which resolves tangential
       and multi-way nodes (a figure-eight union comes back as two
       shells touching at the node). Loops revisiting a node are
       pinch-split into simple rings (a subtracted notch touching the
       boundary at one point yields shell + touching hole, as JTS
       does). CCW loop → shell, CW → hole (nested under its innermost
       containing shell).

    mode="union" (any number of polygons); a contact-free ring
    survives unless it sits inside another polygon's interior
    (point-set membership — a ring inside another's HOLE is kept;
    this legacy path also keeps output arrays bit-identical to the
    pre-r9 kernel for contact-free rings). mode="intersection" (two
    polygons): disjoint input → []; inputs meeting ONLY along
    boundary → [] (regularized — the shared line has no area).
    mode="difference" (exactly two, A \\ B = A ∩ complement(B)); B
    strictly inside A yields an annulus (B's shell reversed becomes a
    hole of A) and B's holes inside A come back as islands.

    Remaining honest refusals are numeric backstops only: zero-area
    output loops, inconsistent stitching, open boundary chains —
    contact at the eps resolution limit, not a semantic class."""
    want_inside = mode == "intersection"
    diff = mode == "difference"

    def _poly_eq(p, q):
        return (len(p) == len(q)
                and all(r.shape == s.shape and np.array_equal(r, s)
                        for r, s in zip(p, q)))

    uniq: list = []
    for p in polys:
        if not any(_poly_eq(p, u) for u in uniq):
            uniq.append(p)
    if diff:
        if len(polys) != 2:
            raise ValueError("polygon overlay: difference takes "
                             "exactly two polygons")
        if len(uniq) == 1:         # identical inputs → empty
            return []
    if want_inside:
        if len(polys) != 2:
            raise ValueError("polygon overlay: intersection takes "
                             "exactly two polygons")
        if len(uniq) == 1:         # identical inputs → themselves
            return [list(uniq[0])]

    m = len(uniq)
    owner: list = []               # ring index → polygon index
    opens: list = []               # open rings, stored orientation
    for pi, p in enumerate(uniq):
        for r in p:
            owner.append(pi)
            opens.append(np.asarray(r[:-1], dtype=float))
    nr = len(opens)
    closed = [np.vstack([r, r[:1]]) for r in opens]
    poly_rings: list = [[] for _ in range(m)]
    for k, pi in enumerate(owner):
        poly_rings[pi].append(k)
    # bbox prunes keep an m-way union near-linear for tile/chain
    # topologies (a dissolve group's rings mostly touch neighbors):
    # ring-pair crossing scans and point-membership tests both skip
    # on one rectangle comparison.
    rbox = [(float(r[:, 0].min()), float(r[:, 1].min()),
             float(r[:, 0].max()), float(r[:, 1].max())) for r in opens]
    pbox: list = []
    for pi in range(m):
        bs = [rbox[k] for k in poly_rings[pi]]
        pbox.append((min(b[0] for b in bs), min(b[1] for b in bs),
                     max(b[2] for b in bs), max(b[3] for b in bs)))

    def _in_poly(pt, pi: int) -> bool:
        # even-odd over the polygon's rings = shell minus holes
        bx = pbox[pi]
        x, y = float(pt[0]), float(pt[1])
        if x < bx[0] or x > bx[2] or y < bx[1] or y > bx[3]:
            return False
        cnt = sum(_point_in_ring(pt, closed[k]) for k in poly_rings[pi]
                  if rbox[k][0] <= x <= rbox[k][2]
                  and rbox[k][1] <= y <= rbox[k][3])
        return cnt % 2 == 1

    # ---- 1. NODE: ring vertices + pairwise contact events ----
    span = 1.0
    for r in opens:
        span = max(span, float(np.abs(r).max()))
    nodes = _Nodes(1e-9 * span)
    ring_nodes = [[nodes.add(float(x), float(y)) for x, y in r]
                  for r in opens]
    events: list = [[] for _ in range(nr)]   # ring → (edge_i, t, nid)
    for a in range(nr):
        ra = opens[a]
        na = len(ra)
        abox = rbox[a]
        for b in range(a + 1, nr):
            if owner[a] == owner[b]:
                continue           # same-polygon rings never cross
            bbox_ = rbox[b]
            if (bbox_[2] < abox[0] or bbox_[0] > abox[2]
                    or bbox_[3] < abox[1] or bbox_[1] > abox[3]):
                continue           # disjoint ring envelopes
            rb = opens[b]
            nb = len(rb)
            # bbox prune per edge pair is O(1); rings are O(100) pts
            for i in range(na):
                p, q = ra[i], ra[(i + 1) % na]
                lox, hix = min(p[0], q[0]), max(p[0], q[0])
                loy, hiy = min(p[1], q[1]), max(p[1], q[1])
                if (hix < bbox_[0] or lox > bbox_[2]
                        or hiy < bbox_[1] or loy > bbox_[3]):
                    continue
                for j in range(nb):
                    r_, s_ = rb[j], rb[(j + 1) % nb]
                    if (max(r_[0], s_[0]) < lox or min(r_[0], s_[0]) > hix
                            or max(r_[1], s_[1]) < loy
                            or min(r_[1], s_[1]) > hiy):
                        continue
                    for t, u, pt in _seg_events(p, q, r_, s_):
                        nid = nodes.add(pt[0], pt[1])
                        events[a].append((i, t, nid))
                        events[b].append((j, u, nid))

    # ---- contact-free rings: legacy single-membership handling
    # (keeps output arrays bit-identical to the pre-r9 kernel) ----
    standalone: list = []    # kept contact-free rings (closed)
    for k in range(nr):
        if events[k]:
            continue
        ring = opens[k]
        ok = owner[k]
        others = [pi for pi in range(m) if pi != ok]
        pt = ring[0]
        inside = [_in_poly(pt, pi) for pi in others]
        if diff:
            if ok == 1:
                # subtrahend ring inside A survives REVERSED:
                # B's shell → a hole of A (annulus), B's hole →
                # an island (complement(B) includes B's holes)
                if any(inside):
                    standalone.append(closed[k][::-1].copy())
                continue
            keep_ring = not any(inside)
        else:
            keep_ring = (all(inside) if want_inside
                         else not any(inside))
        if keep_ring:
            standalone.append(closed[k])

    # ---- 2. sub-edges, then per-segment side-coverage ----
    npts = nodes.pts
    seg_dirs: dict = {}        # (lo,hi) → {(pi, na, nb)}
    for k in range(nr):
        if not events[k]:
            continue
        ring = opens[k]
        n = len(ring)
        pi = owner[k]
        per_edge: dict = {
            i: [(0.0, ring_nodes[k][i]), (1.0, ring_nodes[k][(i + 1) % n])]
            for i in range(n)}
        for i, t, nid in events[k]:
            per_edge[i].append((t, nid))
        for i in range(n):
            prev = None
            for t, nid in sorted(per_edge[i], key=lambda e: e[0]):
                if prev is not None and nid != prev:
                    lo, hi = (prev, nid) if prev < nid else (nid, prev)
                    seg_dirs.setdefault((lo, hi), set()).add(
                        (pi, prev, nid))
                prev = nid

    bedges: list = []          # directed result edges (na, nb)
    for (lo, hi), dirs in seg_dirs.items():
        # cov[pi] = [covers-left, covers-right] of the lo→hi direction
        cov = [[False, False] for _ in range(m)]
        on_seg = set()
        for pi, na, _nb in dirs:
            on_seg.add(pi)
            cov[pi][0 if na == lo else 1] = True
        mid = np.array([(npts[lo][0] + npts[hi][0]) / 2.0,
                        (npts[lo][1] + npts[hi][1]) / 2.0])
        for pi in range(m):
            if pi not in on_seg and _in_poly(mid, pi):
                cov[pi][0] = cov[pi][1] = True
        if diff:
            covl = cov[0][0] and not cov[1][0]
            covr = cov[0][1] and not cov[1][1]
        elif want_inside:
            covl = cov[0][0] and cov[1][0]
            covr = cov[0][1] and cov[1][1]
        else:
            covl = any(c[0] for c in cov)
            covr = any(c[1] for c in cov)
        if covl == covr:
            continue               # interior seam or fully outside
        bedges.append((lo, hi) if covl else (hi, lo))

    # ---- 3. face tracing (clockwise-most rule), pinch-split ----
    loops = _trace_loops(bedges, npts)

    # classify by orientation, then nest holes under their innermost
    # containing shell (islands are CCW → their own polygon)
    shells: list = []
    holes: list = []
    for r in loops + standalone:
        a2 = _ring_signed_area2(r)
        if a2 > 0:
            shells.append(r)
        elif a2 < 0:
            holes.append(r)
        else:
            raise ValueError("polygon overlay: zero-area loop "
                             "(unresolved contact)")
    result: list = [[s] for s in shells]
    for h in holes:
        # probe with the first edge's midpoint: sub-edge interiors
        # meet no node, so the probe is never ON a candidate shell
        # even when the hole TOUCHES its shell at a pinch node
        probe = (h[0] + h[1]) / 2.0
        cands = [i for i, s in enumerate(shells)
                 if _point_in_ring(probe, s)]
        if not cands:
            raise ValueError("polygon overlay: hole outside every "
                             "shell (unresolved contact)")
        best = min(cands,
                   key=lambda i: abs(_ring_signed_area2(shells[i])))
        result[best].append(h)
    return result


def _trace_loops(bedges: list, npts: list) -> list:
    """Stitch directed boundary edges (each oriented interior-LEFT)
    into closed loops with the clockwise-most face-tracing rule:
    after edge (a→b), continue with the outgoing edge at b first
    CLOCKWISE from the reversed direction (b→a) — resolving
    tangential and multi-way nodes. Loops revisiting a node are
    pinch-split into simple rings. Returns closed coordinate rings
    (CCW = shell, CW = hole, by construction)."""
    loops: list = []
    if not bedges:
        return loops
    out_at: dict = {}
    angs: list = []
    for eid, (na, nb) in enumerate(bedges):
        a_ = float(np.arctan2(npts[nb][1] - npts[na][1],
                              npts[nb][0] - npts[na][0]))
        angs.append(a_)
        out_at.setdefault(na, []).append((a_, eid))
    two_pi = 2.0 * np.pi
    nxt: list = [0] * len(bedges)
    for eid, (na, nb) in enumerate(bedges):
        rev = angs[eid] + np.pi            # direction b→a
        outs = out_at.get(nb)
        if not outs:
            raise ValueError("polygon overlay: open boundary "
                             "chain (unresolved contact)")
        best = min(outs, key=lambda e: ((rev - e[0]) % two_pi)
                   or two_pi)
        nxt[eid] = best[1]
    if len(set(nxt)) != len(bedges):
        raise ValueError("polygon overlay: inconsistent boundary "
                         "stitching (unresolved contact)")
    seen = [False] * len(bedges)
    for e0 in range(len(bedges)):
        if seen[e0]:
            continue
        path: list = []
        e = e0
        while not seen[e]:
            seen[e] = True
            path.append(bedges[e][0])
            e = nxt[e]
        for cyc in _pinch_split(path):
            if len(cyc) < 3:
                raise ValueError("polygon overlay: degenerate "
                                 "output loop (unresolved contact)")
            loops.append(np.array([npts[c] for c in cyc]
                                  + [npts[cyc[0]]], dtype=float))
    return loops


def _pinch_split(path: list) -> list:
    """Split a closed node walk (which may revisit nodes at pinch
    points) into simple node cycles; the walk closes implicitly
    (last → first). A revisited node extracts the enclosed sub-walk
    as its own cycle — e.g. a subtracted notch touching the boundary
    at one point becomes shell + touching hole."""
    out: list = []
    cur: list = []
    pos: dict = {}
    for nid in path:
        if nid in pos:
            i = pos[nid]
            sub = cur[i:]
            out.append(sub)
            for x in sub:
                pos.pop(x, None)
            del cur[i:]
        pos[nid] = len(cur)
        cur.append(nid)
    if cur:
        out.append(cur)
    return out


def _norm_ring(coords: np.ndarray, ccw: bool = True) -> np.ndarray:
    """Closed ring → closed SIMPLE ring with the requested
    orientation and consecutive duplicate vertices dropped (the
    normalization `buffer` applies). Raises on self-intersecting
    rings — a non-simple input would otherwise produce silently
    wrong overlay output, breaking the kernel's honest-refusal
    contract."""
    ring = np.asarray(coords, dtype=float)[:-1]
    keep = np.ones(len(ring), dtype=bool)
    keep[1:] = np.any(ring[1:] != ring[:-1], axis=1)
    ring = ring[keep]
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) < 3:
        raise ValueError("union: degenerate ring")
    if not _ring_is_simple(ring):
        raise ValueError("polygon overlay: self-intersecting ring "
                         "(non-simple polygon)")
    if (_ring_signed_area2(np.vstack([ring, ring[:1]])) < 0) == ccw:
        ring = ring[::-1]
    return np.vstack([ring, ring[:1]])


def _norm_poly(coords_list: list) -> list:
    """Geometry POLYGON coords → validated [shell CCW, *holes CW].
    Raises on non-simple rings, rings of the same polygon that
    properly cross, and holes outside the shell — the invalid inputs
    that would silently corrupt the boundary trace (which only
    crosses rings of DIFFERENT polygons)."""
    shell = _norm_ring(coords_list[0], ccw=True)
    rings = [shell] + [_norm_ring(h, ccw=False)
                       for h in coords_list[1:]]
    for i in range(len(rings)):
        ri = rings[i]
        for j in range(i + 1, len(rings)):
            rj = rings[j]
            for a in range(len(ri) - 1):
                for b in range(len(rj) - 1):
                    if _segments_properly_intersect(
                            ri[a], ri[a + 1], rj[b], rj[b + 1]):
                        raise ValueError("polygon overlay: invalid "
                                         "polygon (rings cross)")
    for h in rings[1:]:
        if not _point_in_ring(h[0], shell):
            raise ValueError("polygon overlay: invalid polygon "
                             "(hole outside shell)")
    # holes must be pairwise interior-disjoint (OGC validity). The
    # cross check above cannot catch NESTED or enclosing holes (no
    # boundary crossing), and those silently corrupt the overlay:
    # edge-side classification reads "interior left of the stored
    # ring direction" while membership is even-odd, and the two
    # DISAGREE inside a hole-in-hole (Hypothesis seed 56389: the
    # difference handed the inner hole's region to BOTH operands —
    # an overlapping-part MULTIPOLYGON). Non-crossing rings overlap
    # iff one contains the other, so one vertex probe each way
    # suffices.
    for i in range(1, len(rings)):
        for j in range(i + 1, len(rings)):
            if (_point_in_ring(rings[j][0], rings[i])
                    or _point_in_ring(rings[i][0], rings[j])):
                raise ValueError("polygon overlay: invalid polygon "
                                 "(nested/overlapping holes)")
    return rings


def _overlay_polys_of(g: "Geometry", op: str) -> list:
    """Geometry → list of validated polygons for `_trace_polys`."""
    if g.kind == "POLYGON":
        return [_norm_poly(g.coords)]
    if g.kind == "MULTIPOLYGON":
        return [_norm_poly(p.coords) for p in g.parts()]
    raise ValueError(f"{op}: {g.kind} unsupported "
                     "(POLYGON/MULTIPOLYGON only)")


def _geom_from_polys(polys: list) -> "Geometry | None":
    """[ [shell, *holes], ... ] → Geometry (None for empty)."""
    if not polys:
        return None
    if len(polys) == 1:
        return Geometry("POLYGON", list(polys[0]))
    return Geometry("MULTIPOLYGON",
                    [Geometry("POLYGON", list(p)) for p in polys])


def union(a: Geometry, b: Geometry) -> Geometry:
    """Constructive union of POLYGONs / MULTIPOLYGONs, holes
    included — the OGC `ST_Union` for the polygon class this kernel
    supports (reference gets the same surface from JTS,
    STObject.scala:209-233). Same noded-overlay engine as the
    MULTI*-buffer dissolve (`_trace_polys`); since r9 degenerate
    contact computes — abutting shared edges dissolve their seam,
    vertex touch yields shells meeting at a point — and only invalid
    (self-intersecting) rings raise. A union that encloses a
    courtyard returns a holed polygon."""
    polys = _overlay_polys_of(a, "union") + _overlay_polys_of(b, "union")
    out = _geom_from_polys(_trace_polys(polys, "union"))
    assert out is not None     # a union of non-empty inputs is non-empty
    return out


def intersection(a: Geometry, b: Geometry) -> Geometry | None:
    """Constructive intersection of two POLYGONs (holes included) —
    the OGC `ST_Intersection` for the polygon class this kernel
    supports. Same boundary-trace engine as `union`, keeping the
    arcs INSIDE the other polygon's point-set (shell minus holes).
    Returns None for an empty intersection (the SQL surface maps it
    to NULL — the engine has no empty-geometry value). A polygon
    fully inside the other comes back whole; multiple intersection
    components return a MULTIPOLYGON. MULTIPOLYGON inputs compose
    part-wise: parts of a valid MULTIPOLYGON are disjoint, so
    A ∩ B = ⊎ᵢⱼ (aᵢ ∩ bⱼ) — the pieces are mutually disjoint and
    concatenate without a union pass (parts may touch along
    boundary — point-set correct). Boundary-only contact regularizes
    to empty (r9); raises on invalid rings and non-polygon kinds."""
    pa = _overlay_polys_of(a, "intersection")
    pb = _overlay_polys_of(b, "intersection")
    pieces: list = []
    for p in pa:
        for q in pb:
            pieces.extend(_trace_polys([p, q], "intersection"))
    return _geom_from_polys(pieces)


def difference(a: Geometry, b: Geometry) -> Geometry | None:
    """Constructive difference A \\ B of two POLYGONs (holes
    included) — the OGC `ST_Difference` for the polygon class this
    kernel supports: A's boundary outside B stitched with B's
    boundary inside A walked in reverse. Returns None when A is
    covered by B (empty result; NULL on the SQL surface). B strictly
    inside A returns an ANNULUS (holed polygon); B's holes inside A
    come back as islands. MULTIPOLYGON inputs compose part-wise:
    A \\ B folds each part of A through the parts of B sequentially
    (aᵢ \\ b₁ \\ b₂ …, each step distributing over the accumulated
    disjoint pieces); surviving pieces of distinct aᵢ stay disjoint
    and concatenate. Degenerate contact computes (r9 — an abutting
    subtrahend leaves A unchanged, a notch touching the boundary
    pinches into shell + touching hole); raises on invalid rings
    and non-polygon kinds."""
    pb = _overlay_polys_of(b, "difference")
    out: list = []
    for p in _overlay_polys_of(a, "difference"):
        pieces = [p]
        for q in pb:
            nxt: list = []
            for piece in pieces:
                nxt.extend(_trace_polys([piece, q], "difference"))
            pieces = nxt
            if not pieces:
                break
        out.extend(pieces)
    return _geom_from_polys(out)


def _point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    x, y = float(pt[0]), float(pt[1])
    xs, ys = ring[:-1, 0], ring[:-1, 1]
    xe, ye = ring[1:, 0], ring[1:, 1]
    crossing = ((ys > y) != (ye > y))
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = xs + (y - ys) * (xe - xs) / (ye - ys)
    return bool(np.count_nonzero(crossing & (xi > x)) % 2)


def _segments_properly_intersect(p1, p2, q1, q2) -> bool:
    def orient(a, b, c):
        v = ((b[0] - a[0]) * (c[1] - a[1])
             - (b[1] - a[1]) * (c[0] - a[0]))
        return 0 if abs(v) < 1e-12 else (1 if v > 0 else -1)
    o1, o2 = orient(p1, p2, q1), orient(p1, p2, q2)
    o3, o4 = orient(q1, q2, p1), orient(q1, q2, p2)
    return o1 != o2 and o3 != o4 and 0 not in (o1, o2, o3, o4)


def _any_segment_intersection(a: np.ndarray, b: np.ndarray) -> bool:
    for i in range(len(a) - 1):
        for j in range(len(b) - 1):
            if _segments_properly_intersect(a[i], a[i + 1],
                                            b[j], b[j + 1]):
                return True
    return False


def _ring_is_simple(arr: np.ndarray) -> bool:
    """O(n^2) simplicity check on an OPEN ring (closing edge
    implied): no two non-adjacent edges properly intersect."""
    n = len(arr)
    seg = [(arr[i], arr[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:       # adjacent through closure
                continue
            if _segments_properly_intersect(seg[i][0], seg[i][1],
                                            seg[j][0], seg[j][1]):
                return False
    return True


def batch_envelope(wkbs) -> list | None:
    """Vectorized `envelope` over a WKB batch → list of WKBs.
    bboxes come from one minimum/maximum.reduceat pass per ring plus
    the point coordinates; non-degenerate boxes are assembled as
    93-byte POLYGON WKBs in one uint8 matrix. Degenerate envelopes
    (point / axis-aligned line, rare) fall back per element."""
    r = _ragged(wkbs)
    if r is None:
        return None
    n = r.n
    xmin = np.full(n, np.inf)
    ymin = np.full(n, np.inf)
    xmax = np.full(n, -np.inf)
    ymax = np.full(n, -np.inf)
    if len(r.ring_elem):
        x, y = r.xy[:, 0], r.xy[:, 1]
        rxmin = np.minimum.reduceat(x, r.ptr[:-1])
        rymin = np.minimum.reduceat(y, r.ptr[:-1])
        rxmax = np.maximum.reduceat(x, r.ptr[:-1])
        rymax = np.maximum.reduceat(y, r.ptr[:-1])
        np.minimum.at(xmin, r.ring_elem, rxmin)
        np.minimum.at(ymin, r.ring_elem, rymin)
        np.maximum.at(xmax, r.ring_elem, rxmax)
        np.maximum.at(ymax, r.ring_elem, rymax)
    if len(r.pt_elem):
        np.minimum.at(xmin, r.pt_elem, r.pt_xy[:, 0])
        np.minimum.at(ymin, r.pt_elem, r.pt_xy[:, 1])
        np.maximum.at(xmax, r.pt_elem, r.pt_xy[:, 0])
        np.maximum.at(ymax, r.pt_elem, r.pt_xy[:, 1])
    degen = r.null | (xmin == xmax) | (ymin == ymax) | ~np.isfinite(xmin)
    # 93-byte box WKB: header(9) + npts(4) + 5 * 16 coord bytes
    mat = np.zeros((n, 93), dtype=np.uint8)
    mat[:, 0] = 1
    mat[:, 1] = 3                               # POLYGON
    mat[:, 5] = 1                               # 1 ring
    mat[:, 9] = 5                               # 5 points
    ring = np.stack([xmin, ymin, xmax, ymin, xmax, ymax,
                     xmin, ymax, xmin, ymin], axis=1)
    mat[:, 13:93] = np.ascontiguousarray(
        ring.astype("<f8")).view(np.uint8).reshape(n, 80)
    out = []
    wkbs = list(wkbs)
    for i in range(n):
        if r.null[i]:
            out.append(None)
        elif degen[i]:
            out.append(to_wkb(envelope(from_wkb(bytes(wkbs[i])))))
        else:
            out.append(mat[i].tobytes())
    return out


def batch_buffer_points(wkbs, dists, quad_segs: int = 8) -> list | None:
    """Vectorized `buffer` for an all-POINT batch (the dominant shape:
    zone polygons around event points): one trig pass builds every
    32-gon ring, one uint8 matrix assembles all WKBs. Returns None
    when the batch is not all 21-byte LE points (caller falls back to
    the per-element path). Bit-identical to `buffer` per element
    (same cos/sin arguments, same ring order)."""
    wkbs = list(wkbs)
    n = len(wkbs)
    if n == 0 or not all(b is not None and len(b) == 21 and b[0] == 1
                         for b in wkbs):
        return None
    d = np.asarray([np.nan if v is None else float(v) for v in dists],
                   dtype=np.float64)
    if np.isnan(d).any():         # null distances → per-element path
        return None
    if (~(d > 0)).any():
        # non-positive distances take the per-element path, which
        # shares `buffer`'s contract (negative → erosion/None for
        # points; zero → raise)
        return None
    xs, ys = decode_points(wkbs)
    n_arc = 4 * int(quad_segs)
    ang = np.arange(n_arc) * (2 * np.pi / n_arc)
    rx = xs[:, None] + d[:, None] * np.cos(ang)
    ry = ys[:, None] + d[:, None] * np.sin(ang)
    ring = np.empty((n, n_arc + 1, 2), dtype="<f8")
    ring[:, :n_arc, 0] = rx
    ring[:, :n_arc, 1] = ry
    ring[:, n_arc] = ring[:, 0]
    nbytes = 13 + (n_arc + 1) * 16
    mat = np.zeros((n, nbytes), dtype=np.uint8)
    mat[:, 0] = 1
    mat[:, 1] = 3                                   # POLYGON
    mat[:, 5] = 1                                   # 1 ring
    mat[:, 9:13] = np.frombuffer(
        np.uint32(n_arc + 1).tobytes(), dtype=np.uint8)
    mat[:, 13:] = np.ascontiguousarray(ring).view(np.uint8) \
        .reshape(n, (n_arc + 1) * 16)
    return [r.tobytes() for r in mat]
