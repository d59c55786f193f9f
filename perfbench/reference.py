"""Independent numpy references for every checked output, computed in the
benchmark process.

Nothing here imports the engine: tile math, the tile-local quantisation
check, brute-force kNN and the PIP sign test are written out from their
definitions, so a defect shared by the engine's own twins still shows.
"""

from __future__ import annotations

import numpy as np

MAX_LAT = 85.051128779806


def tile_xy(lng: np.ndarray, lat: np.ndarray, z: int):
    """Slippy tile of each point (Web Mercator, latitude clamped)."""
    n = float(1 << z)
    fx = (np.asarray(lng) + 180.0) / 360.0 * n
    lr = np.radians(np.clip(lat, -MAX_LAT, MAX_LAT))
    fy = (1.0 - np.arcsinh(np.tan(lr)) / np.pi) / 2.0 * n
    return (np.clip(np.floor(fx), 0, n - 1).astype(np.int64),
            np.clip(np.floor(fy), 0, n - 1).astype(np.int64))


def tile_units(lng, lat, z, x, y, extent: int = 4096):
    """Position of lng/lat inside tile (x, y) in extent units."""
    n = float(1 << z)
    lr = np.radians(np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT))
    fx = (np.asarray(lng, dtype=np.float64) + 180.0) / 360.0 * n
    fy = (1.0 - np.arcsinh(np.tan(lr)) / np.pi) / 2.0 * n
    return (fx - x) * extent, (fy - y) * extent


def point_tile_stats(lng, lat, url, z: int) -> dict:
    """{(x, y): (features, distinct urls)} for a point layer at zoom z."""
    x, y = tile_xy(lng, lat, z)
    key = x * (1 << z) + y
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    url_s = np.asarray(url, dtype=object)[order]
    bounds = np.flatnonzero(np.diff(key_s)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(key_s)]])
    n = 1 << z
    return {(int(key_s[s] // n), int(key_s[s] % n)):
            (int(e - s), len(set(url_s[s:e].tolist())))
            for s, e in zip(starts, ends)}


def knn(qlng, qlat, plng, plat, doc_id, mention_idx, k: int) -> list:
    """Exact top-k by squared degree distance, ties broken by
    (doc_id, mention_idx): a list per query of (doc_id, mention_idx)."""
    out = []
    for a, b in zip(qlng, qlat):
        d2 = (plat - b) ** 2 + (plng - a) ** 2
        top = np.lexsort((mention_idx, doc_id, d2))[:k]
        out.append(list(zip(doc_id[top].tolist(), mention_idx[top].tolist())))
    return out


def pip_triangles(tris: list, plng, plat) -> list:
    """Indices of points strictly inside each triangle, by the sign of the
    three edge cross products."""
    out = []
    for t in tris:
        c = []
        for i in range(3):
            (ax, ay), (bx, by) = t[i], t[(i + 1) % 3]
            c.append((bx - ax) * (plat - ay) - (by - ay) * (plng - ax))
        inside = (((c[0] > 0) & (c[1] > 0) & (c[2] > 0))
                  | ((c[0] < 0) & (c[1] < 0) & (c[2] < 0)))
        out.append(np.flatnonzero(inside))
    return out


class FirstRings:
    """Expected decode of a geometry layer: per feature key its tile and
    its first ring. A decoded feature matches when it sits in its tile and
    its decoded position lies within ``tol`` extent units (per axis) of some
    vertex of that ring; encoders may rotate or reverse a ring, so any
    vertex counts."""

    def __init__(self, keys: list, tiles: np.ndarray, rings: list, z: int,
                 tol: float = 1.0):
        self.keys = {k: i for i, k in enumerate(keys)}
        self.tiles = np.asarray(tiles, dtype=np.int64)
        self.z = z
        self.tol = tol
        self.owner = np.repeat(np.arange(len(rings)), [len(r) for r in rings])
        v = np.concatenate(rings)
        self.vx, self.vy = tile_units(v[:, 0], v[:, 1], z,
                                      self.tiles[self.owner, 0],
                                      self.tiles[self.owner, 1])

    def mismatches(self, keys: list, z: np.ndarray, xy: np.ndarray,
                   lng: np.ndarray, lat: np.ndarray) -> int:
        """Features missing, duplicated or misplaced in a decode output."""
        n = len(self.keys)
        idx = np.array([self.keys.get(k, -1) for k in keys], dtype=np.int64)
        known = idx >= 0
        bad = int((~known).sum())
        if not known.any():
            return bad + n
        idx, xy = idx[known], np.asarray(xy, dtype=np.int64)[known]
        lng, lat, z = lng[known], lat[known], np.asarray(z)[known]
        row = np.full(n, -1, dtype=np.int64)
        row[idx] = np.arange(len(idx))
        bad += len(idx) - int((row >= 0).sum())  # duplicates
        placed = (z == self.z) & np.all(xy == self.tiles[idx], axis=1)
        dx, dy = tile_units(lng, lat, self.z, self.tiles[idx, 0],
                            self.tiles[idx, 1])
        r = row[self.owner]
        hit = (r >= 0) & placed[r] \
            & (np.abs(self.vx - dx[r]) <= self.tol) \
            & (np.abs(self.vy - dy[r]) <= self.tol)
        return bad + int(n - (np.bincount(self.owner, weights=hit,
                                          minlength=n) > 0).sum())
