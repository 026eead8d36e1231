"""Vector polyline/polygon offset (buffer) kernel — numpy, from scratch.

Closes the engine's last `partial` vs SURVEY.md §2.4: the reference buffers
shapely-side with explicit cap/join styles (utils/helpers.py:6-22 —
join_style='mitre' for building croppers; analyse_traffic_area.py:167,208,228
— cap_style square/flat on road/rail/pedestrian lines), while the engine's
raster line buffering only modeled round joins. A square/disc structuring
element approximates a mitre/round join band only for axis-aligned edges;
Vienna's diagonal street grid made that the largest golden-parity gap
(traffic area −2.7%, r02).

Representation: a buffer/offset region is emitted as a list of CONVEX
"pieces" (rectangles per edge, wedges/fans per joint, caps per line end)
whose union is the exact offset band. Union semantics make the construction
robust to self-intersections that break classic single-ring offsetting, and
each convex piece rasterizes exactly by half-plane tests on pixel centers:

  dilate(polygon, r) = polygon_mask  ∪  band_pieces(rings, r)
  erode(polygon, r)  = polygon_mask \\ band_pieces(rings, r)
  buffer(line, w)    = pieces only (rects + joints + caps)

Join styles: 'round' (fan, matching shapely's arc discretization),
'mitre' (true mitre point with shapely's default limit 5.0, bevel beyond),
'bevel'. Cap styles: 'flat', 'square', 'round'.

All coordinates in world metres; rasterization snaps to the caller's Grid
(pixel-center-in-region, same convention as geo/raster.py).
"""

from __future__ import annotations

import numpy as np

MITER_LIMIT_DEFAULT = 5.0
_ROUND_SEGS = 8  # segments per quarter circle (shapely quad_segs default)


def _left_normals(pts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unit edge directions and left normals for consecutive edges of a path.

    Degenerate (zero-length) edges are dropped by the callers beforehand."""
    d = np.diff(pts, axis=0)
    ln = np.hypot(d[:, 0], d[:, 1])
    d = d / ln[:, None]
    n = np.stack([-d[:, 1], d[:, 0]], axis=1)  # left of travel (x-right/y-up)
    return d, n


def _dedupe_path(pts: np.ndarray) -> np.ndarray:
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) < 2:
        return pts
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = np.hypot(*(np.diff(pts, axis=0).T)) > 1e-12
    return pts[keep]


def _arc_fan(v: np.ndarray, n_from: np.ndarray, n_to: np.ndarray, dist: float) -> list[np.ndarray]:
    """Triangle fan approximating the arc from v+n_from·dist to v+n_to·dist
    (short way round), shapely-style inscribed polygon."""
    a0 = np.arctan2(n_from[1], n_from[0])
    a1 = np.arctan2(n_to[1], n_to[0])
    sweep = a1 - a0
    while sweep > np.pi:
        sweep -= 2 * np.pi
    while sweep < -np.pi:
        sweep += 2 * np.pi
    nseg = max(1, int(np.ceil(abs(sweep) / (np.pi / 2) * _ROUND_SEGS)))
    angles = a0 + sweep * np.arange(nseg + 1) / nseg
    ring_pts = v[None, :] + dist * np.stack([np.cos(angles), np.sin(angles)], axis=1)
    return [
        np.array([v, ring_pts[i], ring_pts[i + 1]]) for i in range(nseg)
    ]


def _joint_pieces(
    v: np.ndarray,
    n1: np.ndarray,
    n2: np.ndarray,
    dist: float,
    join_style: str,
    miter_limit: float,
) -> list[np.ndarray]:
    """Fill the gap between consecutive edge rectangles at vertex v, where
    n1/n2 are the (unit) band-side normals of the incoming/outgoing edge."""
    dot = float(np.clip(n1 @ n2, -1.0, 1.0))
    if dot >= 1.0 - 1e-12:
        return []
    if join_style == "round":
        return _arc_fan(v, n1, n2, dist)
    p1 = v + n1 * dist
    p2 = v + n2 * dist
    if join_style == "mitre":
        # mitre point sits on the normal bisector at dist / cos(θ/2)
        cos_half = np.sqrt((1.0 + dot) / 2.0)
        if cos_half > 1e-9 and 1.0 / cos_half <= miter_limit:
            bis = n1 + n2
            bis = bis / np.hypot(bis[0], bis[1])
            m = v + bis * (dist / cos_half)
            return [np.array([v, p1, m, p2])]
        # beyond the limit → bevel (GEOS clips; at limit 5 the visual
        # difference is < 2% of the wedge for angles sharper than ~23°)
    return [np.array([v, p1, p2])]


def buffer_line_pieces(
    path: np.ndarray,
    half: float,
    cap_style: str = "round",
    join_style: str = "round",
    miter_limit: float = MITER_LIMIT_DEFAULT,
) -> list[np.ndarray]:
    """Convex pieces whose union is buffer(LineString, half) with the given
    cap/join styles (reference helpers.py:6-22 semantics)."""
    pts = _dedupe_path(path)
    if len(pts) < 2:
        return []
    d, nl = _left_normals(pts)
    pieces: list[np.ndarray] = []
    p0s, p1s = pts[:-1], pts[1:]
    if cap_style == "square":
        p0s = p0s.copy()
        p1s = p1s.copy()
        p0s[0] = p0s[0] - d[0] * half
        p1s[-1] = p1s[-1] + d[-1] * half
    for i in range(len(d)):
        n = nl[i] * half
        pieces.append(np.array([p0s[i] + n, p1s[i] + n, p1s[i] - n, p0s[i] - n]))
    # joints: gap opens on the convex side (sign of the turn)
    for i in range(len(d) - 1):
        crossz = d[i][0] * d[i + 1][1] - d[i][1] * d[i + 1][0]
        if abs(crossz) < 1e-14:
            continue
        side = -1.0 if crossz > 0 else 1.0  # gap on right when turning left
        pieces.extend(
            _joint_pieces(pts[i + 1], side * nl[i], side * nl[i + 1], half, join_style, miter_limit)
        )
    if cap_style == "round":
        # two quarter fans through the outward tangent — a single n→−n fan
        # has an ambiguous ±π sweep and can bulge into the rectangle instead
        # of past the end
        pieces.extend(_arc_fan(pts[0], nl[0], -d[0], half))
        pieces.extend(_arc_fan(pts[0], -d[0], -nl[0], half))
        pieces.extend(_arc_fan(pts[-1], -nl[-1], d[-1], half))
        pieces.extend(_arc_fan(pts[-1], d[-1], nl[-1], half))
    return pieces


def boundary_band_pieces(
    ring: np.ndarray,
    dist: float,
    join_style: str = "mitre",
    miter_limit: float = MITER_LIMIT_DEFAULT,
) -> list[np.ndarray]:
    """Two-sided band of width `dist` around a CLOSED ring: per-edge
    rectangles spanning both sides plus the gap wedge at every vertex (on
    whichever side the turn opens). Union with / subtraction from the filled
    polygon mask gives exact vector-join dilation / erosion:

      dilate = mask ∪ band   (outside half of the band adds; inside half is
                              already in the mask)
      erode  = mask \\ band   (inside half removes; outside half is outside)

    Works for any ring orientation and for hole rings unchanged — no
    orientation or interior-side bookkeeping, union semantics absorb
    self-intersections of the band."""
    pts = _dedupe_path(np.asarray(ring, dtype=np.float64))
    if len(pts) >= 2 and np.hypot(*(pts[0] - pts[-1])) > 1e-12:
        pts = np.vstack([pts, pts[0]])
    if len(pts) < 3:
        return []
    d, nl = _left_normals(pts)
    pieces: list[np.ndarray] = []
    for i in range(len(d)):
        n = nl[i] * dist
        pieces.append(np.array([pts[i] + n, pts[i + 1] + n, pts[i + 1] - n, pts[i] - n]))
    m = len(d)
    for i in range(m):
        j = (i + 1) % m
        crossz = d[i][0] * d[j][1] - d[i][1] * d[j][0]
        if abs(crossz) < 1e-14:
            continue
        side = -1.0 if crossz > 0 else 1.0
        v = pts[(i + 1) % len(pts)] if i + 1 < len(pts) else pts[0]
        pieces.extend(_joint_pieces(v, side * nl[i], side * nl[j], dist, join_style, miter_limit))
    return pieces


def pieces_mask(grid, pieces: list[np.ndarray], out: "np.ndarray | None" = None) -> np.ndarray:
    """Rasterize a union of convex pieces: pixel-center half-plane tests in
    each piece's bbox window — O(Σ piece window), never O(H·W·pieces).
    `out`: optional pre-zeroed scratch buffer (batch callers reuse)."""
    mask = np.zeros((grid.h, grid.w), dtype=bool) if out is None else out
    for piece in pieces:
        gx, gy = grid.world_to_pix(piece[:, 0], piece[:, 1])
        pp = np.stack([gx, gy], axis=1)
        # orient CCW in pixel space so the interior is left of every edge
        nxt = np.roll(pp, -1, axis=0)
        if (pp[:, 0] * nxt[:, 1] - nxt[:, 0] * pp[:, 1]).sum() < 0:
            pp = pp[::-1]
            nxt = np.roll(pp, -1, axis=0)
        xmin = max(0, int(np.floor(pp[:, 0].min())))
        xmax = min(grid.w - 1, int(np.ceil(pp[:, 0].max())))
        ymin = max(0, int(np.floor(pp[:, 1].min())))
        ymax = min(grid.h - 1, int(np.ceil(pp[:, 1].max())))
        if xmax < xmin or ymax < ymin:
            continue
        # pixel centers via broadcast (no mgrid materialization); all edges'
        # half-plane tests in one 3-D comparison
        pxc = np.arange(xmin, xmax + 1, dtype=np.float64)[None, :] + 0.5  # (1, W)
        pyc = np.arange(ymin, ymax + 1, dtype=np.float64)[:, None] + 0.5  # (H, 1)
        ex = (nxt[:, 0] - pp[:, 0])[:, None, None]
        ey = (nxt[:, 1] - pp[:, 1])[:, None, None]
        cross = (pxc[None] - pp[:, 0, None, None]) * ey - (pyc[None] - pp[:, 1, None, None]) * ex
        inside = (cross <= 1e-9).all(axis=0)
        mask[ymin : ymax + 1, xmin : xmax + 1] |= inside
    return mask

