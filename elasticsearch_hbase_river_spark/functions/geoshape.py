"""Literal geo-shape (polygon) support for the spatial relation surface.

Elasticsearch's spatial relation functions (``ST_INTERSECTS``,
``ST_WITHIN``, ``ST_CONTAINS``, ``ST_DISJOINT``) test indexed points
against a query geometry; the overwhelmingly common shape is a literal
polygon in the query. This module pins the engine's point-in-polygon
test for that case:

- **WKT parsing is driver-side** (the polygon is a query literal), so the
  per-row predicate compiles to a fixed expression ladder.
- **Ray casting without division**: the classic crossing test
  ``px < (x2-x1)*(py-y1)/(y2-y1) + x1`` divides by the edge slope; since
  the polygon is literal, each edge's ``dy`` sign is known at compile
  time and the comparison multiplies through instead —
  ``(px - x1) * dy  <  dx * (py - y1)`` (flipped for ``dy < 0``).
  Multiply/subtract/compare only: both engines evaluate it
  BIT-IDENTICALLY (the same stance as the DSL pack's cross-product
  triangle test, ``esdsl6._in_triangle_sql``), no libm, no rounding.
- Horizontal edges (``dy == 0``) never flip ray-cast parity and are
  dropped at generation time — which also removes the division-by-zero
  hazard entirely instead of guarding it per row.
- Boundary semantics: the even-odd rule with the half-open crossing
  test above (a point exactly ON an edge may land either side at IEEE
  grain, as in every ray caster; the fixtures' md5-derived coordinates
  make that a measure-zero non-event).

The Column builder and the SQL-text twin are generated from the SAME
edge list with the SAME operand order, so oracle hashes match without
tolerance.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WKT_POLY_RE = re.compile(
    r"^\s*POLYGON\s*\(\s*\(([^()]*)\)\s*\)\s*$", re.IGNORECASE)


def parse_wkt_polygon(wkt: str) -> list[tuple[float, float]]:
    """``POLYGON ((x y, x y, ...))`` → closed ring as [(x, y), ...].

    Single outer ring only (holes/multipolygons are outside the subset);
    the ring is auto-closed if the last vertex differs from the first.
    Raises ``ValueError`` with the offending text on malformed input.
    """
    m = _WKT_POLY_RE.match(wkt)
    if not m:
        raise ValueError(
            f"unsupported WKT (subset: single-ring POLYGON): {wkt!r}")
    ring: list[tuple[float, float]] = []
    for part in m.group(1).split(","):
        nums = part.split()
        if len(nums) != 2:
            raise ValueError(f"bad WKT vertex {part.strip()!r} in {wkt!r}")
        ring.append((float(nums[0]), float(nums[1])))
    if len(ring) < 3:
        raise ValueError(f"polygon needs >= 3 vertices: {wkt!r}")
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    if len(ring) < 4:  # closed triangle = 4 points
        raise ValueError(f"polygon needs >= 3 distinct vertices: {wkt!r}")
    return ring


def ring_edges(ring: list[tuple[float, float]]
               ) -> list[tuple[float, float, float, float]]:
    """Non-horizontal edges (x1, y1, x2, y2) of a closed ring."""
    edges = []
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if y1 != y2:
            edges.append((x1, y1, x2, y2))
    if not edges:
        raise ValueError("degenerate polygon: every edge is horizontal")
    return edges


def point_in_ring_col(px: Column, py: Column,
                      ring: list[tuple[float, float]]) -> Column:
    """Even-odd ray cast as a Column expression (see module docstring)."""
    inside = F.lit(False)
    for x1, y1, x2, y2 in ring_edges(ring):
        dx, dy = x2 - x1, y2 - y1
        straddles = (F.lit(y1) > py) != (F.lit(y2) > py)
        lhs = (px - F.lit(x1)) * F.lit(dy)
        rhs = F.lit(dx) * (py - F.lit(y1))
        crossing = (lhs < rhs) if dy > 0 else (lhs > rhs)
        inside = inside != (straddles & crossing)
    return inside


def point_in_ring_sql(px: str, py: str,
                      ring: list[tuple[float, float]]) -> str:
    """The DuckDB twin of :func:`point_in_ring_col` — same edges, same
    operand order, so the booleans are bit-identical."""
    out = "FALSE"
    for x1, y1, x2, y2 in ring_edges(ring):
        dx, dy = x2 - x1, y2 - y1
        op = "<" if dy > 0 else ">"
        cond = (f"(({y1!r} > ({py})) <> ({y2!r} > ({py}))) AND "
                f"((({px}) - {x1!r}) * {dy!r} {op} "
                f"{dx!r} * (({py}) - {y1!r}))")
        out = f"(({out}) <> ({cond}))"
    return out


_WKT_SHAPE_RE = re.compile(
    r"^\s*(POLYGON|MULTIPOLYGON)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)


def parse_wkt_shape(wkt: str) -> list[list[tuple[float, float]]]:
    """``POLYGON ((outer), (hole), ...)`` / ``MULTIPOLYGON (((..)), ...)``
    → list of closed rings. Under the even-odd rule the ring ROLES need
    no bookkeeping: a point's parity over all rings' edges is inside-
    outer XOR inside-hole — holes and disjoint parts fall out of the
    same ray cast (overlapping parts cancel, the even-odd convention).
    Each ring validates/auto-closes like :func:`parse_wkt_polygon`."""
    m = _WKT_SHAPE_RE.match(wkt)
    if not m:
        raise ValueError(
            f"unsupported WKT (subset: POLYGON / MULTIPOLYGON): {wkt!r}")
    rings_txt = re.findall(r"\(([^()]+)\)", m.group(2))
    if not rings_txt:
        raise ValueError(f"no rings in WKT: {wkt!r}")
    rings = []
    for txt in rings_txt:
        ring: list[tuple[float, float]] = []
        for part in txt.split(","):
            nums = part.split()
            if len(nums) != 2:
                raise ValueError(
                    f"bad WKT vertex {part.strip()!r} in {wkt!r}")
            ring.append((float(nums[0]), float(nums[1])))
        if len(ring) < 3:
            raise ValueError(f"polygon ring needs >= 3 vertices: {wkt!r}")
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        if len(ring) < 4:
            raise ValueError(
                f"polygon ring needs >= 3 distinct vertices: {wkt!r}")
        rings.append(ring)
    return rings


def point_in_rings_col(px: Column, py: Column,
                       rings: list[list[tuple[float, float]]]) -> Column:
    """Even-odd parity over ALL rings' edges (holes/multi-parts free)."""
    inside = F.lit(False)
    for ring in rings:
        inside = inside != point_in_ring_col(px, py, ring)
    return inside


def point_in_rings_sql(px: str, py: str,
                       rings: list[list[tuple[float, float]]]) -> str:
    out = "FALSE"
    for ring in rings:
        out = f"(({out}) <> ({point_in_ring_sql(px, py, ring)}))"
    return out


def rings_bbox(rings: list[list[tuple[float, float]]]
               ) -> tuple[float, float, float, float]:
    xs = [p[0] for r in rings for p in r]
    ys = [p[1] for r in rings for p in r]
    return min(xs), max(xs), min(ys), max(ys)
