"""Seeded input generators.

Every value is a pure function of (seed, stream, row id) through a
splitmix64-style counter hash, so inputs do not depend on partitioning,
generation order or any random-number state, and the numpy reference in
the benchmark process sees exactly the rows Spark gets.
"""

from __future__ import annotations

import numpy as np

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def hash64(seed: int, stream: int, ids: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a (seed, stream, id) counter."""
    with np.errstate(over="ignore"):
        z = (np.asarray(ids, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
             + np.uint64((seed * 0xD1B54A32D192ED03 + stream * 0x8CB92BA72F3D8DD7)
                         & 0xFFFFFFFFFFFFFFFF))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (z ^ (z >> np.uint64(31))) & _M64


def uniform(seed: int, stream: int, ids: np.ndarray) -> np.ndarray:
    """Floats in [0, 1) with 53 random bits."""
    return (hash64(seed, stream, ids) >> np.uint64(11)).astype(np.float64) \
        * (1.0 / (1 << 53))


def integers(seed: int, stream: int, ids: np.ndarray, n: int) -> np.ndarray:
    return (hash64(seed, stream, ids) % np.uint64(n)).astype(np.int64)


# hot cities (lng, lat): the ~20 % of mentions that pile onto a few tiles
HOT_CITIES = np.array([[-74.006, 40.713], [-0.128, 51.507], [139.692, 35.690],
                       [2.352, 48.857], [77.209, 28.614], [-46.633, -23.551],
                       [151.209, -33.869], [31.236, 30.044]])


def point_mentions(seed: int, n: int, hot_share: float = 0.2) -> dict:
    """Web-page geo mentions: three mentions per document, most spread
    uniformly over lat [-80, 80), a ``hot_share`` clustered within ~0.2 deg
    of a hot city. Feature ids are doc ids, starting at 1 (0 means "no id"
    on the MVT wire)."""
    rid = np.arange(n, dtype=np.int64)
    hot = uniform(seed, 1, rid) < hot_share
    city = integers(seed, 2, rid, len(HOT_CITIES))
    lng = uniform(seed, 3, rid) * 360.0 - 180.0
    lat = uniform(seed, 4, rid) * 160.0 - 80.0
    lng[hot] = HOT_CITIES[city[hot], 0] + (uniform(seed, 5, rid[hot]) - 0.5) * 0.4
    lat[hot] = HOT_CITIES[city[hot], 1] + (uniform(seed, 6, rid[hot]) - 0.5) * 0.4
    doc_id = rid // 3 + 1
    site = integers(seed, 7, doc_id, 5000)
    url = np.array([f"https://s{s}.example.org/doc/{d}"
                    for s, d in zip(site.tolist(), doc_id.tolist())],
                   dtype=object)
    return {"doc_id": doc_id, "mention_idx": (rid % 3).astype(np.int32),
            "lat": lat, "lng": lng, "url": url}


def tile_bounds_deg(z: int, x: np.ndarray, y: np.ndarray):
    """(west, south, east, north) of slippy tiles, in degrees."""
    n = float(1 << z)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    def lat_of(t):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * t / n))))

    return (x / n * 360.0 - 180.0, lat_of(y + 1.0),
            (x + 1.0) / n * 360.0 - 180.0, lat_of(y))


def geometries(seed: int, n_poly: int, n_line: int, zoom: int = 12,
               side: int = 8, base: tuple[int, int] = (2040, 1360)) -> dict:
    """Dense z``zoom`` geometry: ``n_poly`` polygons (an exterior ring of
    6-12 vertices and, for every other polygon, one square hole) and
    ``n_line`` linestrings of 4-16 vertices, spread over the ``side`` x
    ``side`` block of tiles from ``base`` and kept inside their tile. Rings
    are open (no repeated first vertex).

    The block is fixed and only the features vary with the seed: which of
    its tiles share a Spark partition then stays the same from seed to
    seed, as does the task skew that follows from it.

    Returns per-kind dicts with z/x/y/feature_id/rings (list of rings, each
    an (n, 2) lng/lat array) and props."""
    base_x, base_y = base
    n_tiles = side * side
    tx = base_x + np.arange(n_tiles) % side
    ty = base_y + np.arange(n_tiles) // side
    w, s, e, nn = tile_bounds_deg(zoom, tx, ty)

    def place(stream, count):
        fid = np.arange(count, dtype=np.int64)
        t = integers(seed, stream, fid, n_tiles)
        cx = uniform(seed, stream + 1, fid) * 0.6 + 0.2
        cy = uniform(seed, stream + 2, fid) * 0.6 + 0.2
        r = uniform(seed, stream + 3, fid) * 0.1 + 0.05
        return fid, t, cx, cy, r

    def to_deg(t, fx, fy):
        return np.stack([w[t] + fx * (e[t] - w[t]),
                         nn[t] - fy * (nn[t] - s[t])], axis=-1)

    fid, t, cx, cy, r = place(30, n_poly)
    nv = 6 + integers(seed, 34, fid, 7)
    polys = []
    for i in range(n_poly):
        # clockwise in tile space (y down): the MVT exterior winding
        ang = np.arange(nv[i]) * (2.0 * np.pi / nv[i])
        ext = to_deg(t[i], cx[i] + r[i] * np.cos(ang), cy[i] + r[i] * np.sin(ang))
        rings = [ext]
        if i % 2 == 0:
            h = r[i] * 0.3
            hx = cx[i] + np.array([-h, -h, h, h])
            hy = cy[i] + np.array([-h, h, h, -h])
            rings.append(to_deg(t[i], hx, hy))
        polys.append(rings)
    poly_props = [{"kind": "building", "name": f"b{k % 97}"}
                  for k in fid.tolist()]

    lfid, lt, lx, ly, lr = place(40, n_line)
    lnv = 4 + integers(seed, 44, lfid, 13)
    lines = []
    for i in range(n_line):
        k = np.arange(lnv[i])
        dx = (uniform(seed, 45, lfid[i] * 16 + k) - 0.5) * lr[i]
        dy = (uniform(seed, 46, lfid[i] * 16 + k) - 0.5) * lr[i]
        lines.append([to_deg(lt[i], lx[i] + np.cumsum(dx) * 0.5,
                             ly[i] + np.cumsum(dy) * 0.5)])
    line_props = [{"lanes": int(k % 4) + 1, "name": f"road {k % 31}",
                   "oneway": bool(k % 2), "speed": 30.0 + (k % 5) * 10.0}
                  for k in lfid.tolist()]
    return {
        "zoom": zoom,
        "poly": {"x": tx[t], "y": ty[t], "feature_id": fid + 1,
                 "rings": polys, "props": poly_props},
        "line": {"x": tx[lt], "y": ty[lt], "feature_id": lfid + 1,
                 "rings": lines, "props": line_props},
    }


def triangles(seed: int, request: int, n: int, centers: np.ndarray) -> list:
    """``n`` triangles of 1-3 deg around seeded picks from ``centers``
    (lng, lat): one PIP request's polygon set."""
    k = request * 64 + np.arange(n, dtype=np.int64)
    c = centers[integers(seed, 60, k, len(centers))]
    out = []
    for i in range(n):
        r = 1.0 + 2.0 * uniform(seed, 61, k[i:i + 1])[0]
        a0 = 2.0 * np.pi * uniform(seed, 62, k[i:i + 1])[0]
        ang = a0 + np.array([0.0, 2.1, 4.2])
        out.append(np.stack([c[i, 0] + r * np.cos(ang),
                             c[i, 1] + r * np.sin(ang)], axis=-1))
    return out
