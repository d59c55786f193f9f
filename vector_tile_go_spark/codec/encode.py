"""MVT layer/feature/geometry encoder.

From-scratch re-creation (numpy/Python, not a port) of the reference write
path, byte-compatible where the reference is deterministic:

- cursor + geometry command encoding  (write_geometry.go:108-378)
- feature framing                     (write_feature.go:12-90)
- layer framing + key/value dicts     (write_layer.go:77-211)

Pinned by golden command-array fixtures (write_geometry_test.go:26-31) in
tests/test_geometry_golden.py.

Determinism note: the reference iterates Go maps when emitting tags
(write_layer.go:98), so its bytes are NOT stable run-to-run. This engine
uses first-seen order for dict entries and the caller-provided property
order (canonical mode: sorted keys), making bytes deterministic — a
documented deviation; equivalence with the reference is at the
decoded-feature level, like the reference's own tests (read_write_test.go).
"""

from __future__ import annotations

import numpy as np

from .. import tilemath as tm
from .values import write_value
from .wire import encode_varint, write_packed_uint32

GEOM_TYPE_INT = {
    "Point": 1, "MultiPoint": 1,
    "LineString": 2, "MultiLineString": 2,
    "Polygon": 3, "MultiPolygon": 3,
}


def _cmd(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)  # write_geometry.go:88-90


class Cursor:
    """Stateful geometry command encoder (write_geometry.go:12-22).

    Tracks the last written point so every coordinate is a zigzag'd delta;
    zero-deltas inside LineTo runs are dropped with the run length
    back-patched (write_geometry.go:116-125, 128-165)."""

    __slots__ = ("geometry", "last_x", "last_y", "merc_w", "merc_n",
                 "merc_dx", "merc_dy", "extent", "extent_clamp")

    def __init__(self, z: int, x: int, y: int, extent: int = 4096,
                 extent_clamp: bool = False):
        w, s, e, n = tm.tile_bounds(z, x, y)
        wx, sy = tm.mercator_xy(w, s)
        ex, ny = tm.mercator_xy(e, n)
        self.merc_w = float(wx)
        self.merc_n = float(ny)
        self.merc_dx = float(ex - wx)
        self.merc_dy = float(ny - sy)
        self.extent = int(extent)
        self.extent_clamp = bool(extent_clamp)
        self.reset()

    def reset(self):
        """RefreshCursor (write_layer.go:115-120): per-feature state zeroing."""
        self.geometry: list[int] = []
        self.last_x = 0
        self.last_y = 0

    # -- projection -------------------------------------------------------
    def tile_ints(self, coords) -> np.ndarray:
        """lng/lat rows -> (n, 2) int32 tile-local coords.

        Vectorized SinglePoint (write_geometry.go:292-323): mercator
        projection, scale into [0, extent], truncate toward zero like Go's
        int32 conversion, optional clamp into the tile."""
        a = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
        mx, my = tm.mercator_xy(a[:, 0], a[:, 1])
        fx = (mx - self.merc_w) / self.merc_dx
        fy = (self.merc_n - my) / self.merc_dy
        xv = np.trunc(fx * self.extent).astype(np.int64)
        yv = np.trunc(fy * self.extent).astype(np.int64)
        if self.extent_clamp:
            xv = np.clip(xv, 0, self.extent)
            yv = np.clip(yv, 0, self.extent)
        return np.stack([xv, yv], axis=1).astype(np.int32)

    # -- primitive ops ----------------------------------------------------
    def _zz(self, v: int) -> int:
        return int(tm.zigzag_encode(np.int32(v)))

    def move_point(self, px: int, py: int):
        """MovePoint (write_geometry.go:108-114): always written."""
        self.geometry += [_cmd(1, 1), self._zz(px - self.last_x),
                          self._zz(py - self.last_y)]
        self.last_x, self.last_y = int(px), int(py)

    # -- geometry builders ------------------------------------------------
    def make_point(self, pts: np.ndarray):
        """MakePointFloat (write_geometry.go:325-331): header MoveTo(1) then a
        LinePoint — a point equal to the cursor origin yields a bare header."""
        self.geometry = [_cmd(1, 1)]
        self._line_points(pts[:1])

    def make_multipoint(self, pts: np.ndarray):
        """MakeMultiPointFloat (write_geometry.go:338-344). Header count stays
        len(points) even when zero-delta duplicates are dropped."""
        self.geometry = [_cmd(1, len(pts))]
        self._line_points(pts)

    def _line_points(self, pts: np.ndarray) -> int:
        """Run LinePoint over rows (write_geometry.go:116-125); returns the
        count of points actually written (zero deltas dropped)."""
        count = 0
        for px, py in pts:
            dx = int(np.int32(px) - np.int32(self.last_x))
            dy = int(np.int32(py) - np.int32(self.last_y))
            if dx != 0 or dy != 0:
                self.geometry += [self._zz(dx), self._zz(dy)]
                count += 1
            self.last_x, self.last_y = int(px), int(py)
        return count

    def make_line_ints(self, pts: np.ndarray) -> int:
        """MakeLine on tile-int coords (write_geometry.go:128-165 semantics,
        float variant): MoveTo first point, LineTo(len-1) placeholder,
        back-patch with the real count; truncate the whole run if every
        subsequent point collapsed onto the first (degenerate line)."""
        startpos = len(self.geometry)
        self.move_point(pts[0, 0], pts[0, 1])
        self.geometry.append(_cmd(2, len(pts) - 1))
        count = self._line_points(pts[1:])
        if count > 0:
            self.geometry[startpos + 3] = _cmd(2, count)
        else:
            del self.geometry[startpos:]
        return count

    def make_line(self, coords) -> int:
        return self.make_line_ints(self.tile_ints(coords))

    def make_multiline(self, lines):
        for line in lines:
            self.make_line(line)

    def _ring_winding_weight(self, pts: np.ndarray) -> float:
        """Shoelace weight with the reference's int32 product arithmetic
        (write_geometry.go:179-207 / 210-248): each term is an int32
        multiply (wrapping) accumulated in float64."""
        with np.errstate(over="ignore"):
            x = pts[:, 0].astype(np.int32)
            y = pts[:, 1].astype(np.int32)
            dx = x[1:] - x[:-1]
            sy = y[1:] + y[:-1]
            w = float(np.sum((dx * sy).astype(np.int32), dtype=np.float64))
            # wrap term back to the first point
            w += float(np.int32((x[0] - x[-1]) * (y[0] + y[-1])))
        return w

    def _ring(self, ring, expect_clockwise: bool):
        """AssertConvert (write_geometry.go:210-248): project ring to ints,
        enforce winding by reversal, emit MoveTo+LineTo run (closing point
        written explicitly) + ClosePath(1)."""
        pts = self.tile_ints(ring)
        w = self._ring_winding_weight(pts)
        clockwise = w > 0
        if clockwise != expect_clockwise:
            pts = pts[::-1]
        # sub-cursor MakeLine without truncation-on-degenerate
        startpos = len(self.geometry)
        self.move_point(pts[0, 0], pts[0, 1])
        self.geometry.append(_cmd(2, len(pts) - 1))
        count = self._line_points(pts[1:])
        self.geometry[startpos + 3] = _cmd(2, count)
        self.geometry.append(_cmd(7, 1))
        self.last_x, self.last_y = int(pts[-1, 0]), int(pts[-1, 1])

    def make_polygon(self, rings):
        """MakePolygonFloat (write_geometry.go:277-289): close unclosed rings
        (TrimPolygonFloat, :26-35), exterior clockwise, holes counter."""
        closed = []
        for ring in rings:
            ring = [list(map(float, p)) for p in ring]
            if ring[0][0] != ring[-1][0] or ring[0][1] != ring[-1][1]:
                ring = ring + [ring[0]]
            closed.append(ring)
        self._ring(closed[0], expect_clockwise=True)
        for ring in closed[1:]:
            self._ring(ring, expect_clockwise=False)

    def make_multipolygon(self, polys):
        for rings in polys:
            self.make_polygon(rings)


class LayerEncoder:
    """Append-only layer encoder with build-side key/value dictionaries —
    LayerWrite (write_layer.go:12-26) re-created with Python dicts."""

    def __init__(self, z: int, x: int, y: int, name: str, extent: int = 4096,
                 version: int = 2, extent_clamp: bool = True,
                 canonical_order: bool = True):
        self.name = name
        self.extent = int(extent) if extent else 4096
        self.version = int(version) if version else 2
        self.cursor = Cursor(z, x, y, self.extent, extent_clamp)
        self.keys: dict[str, int] = {}
        self.values: dict = {}
        self.keys_bytes = bytearray()
        self.values_bytes = bytearray()
        self.features = bytearray()
        self.n_features = 0
        self.canonical_order = canonical_order

    def _key_idx(self, key: str) -> int:
        idx = self.keys.get(key)
        if idx is None:  # AddKey (write_layer.go:77-84)
            raw = key.encode("utf-8")
            self.keys_bytes += bytes([26]) + encode_varint(len(raw)) + raw
            idx = len(self.keys)
            self.keys[key] = idx
        return idx

    def _value_idx(self, value) -> int:
        vk = (type(value).__name__, value)  # Go map keys are typed variants
        idx = self.values.get(vk)
        if idx is None:  # AddValue (write_layer.go:87-92)
            self.values_bytes += write_value(value)
            idx = len(self.values)
            self.values[vk] = idx
        return idx

    def _tags(self, properties: dict) -> list[int]:
        """GetTags (write_layer.go:95-112), first-seen dense ids; canonical
        mode fixes the Go-map nondeterminism by sorting property keys."""
        items = sorted(properties.items()) if self.canonical_order \
            else list(properties.items())
        tags = []
        for k, v in items:
            tags.append(self._key_idx(k))
            tags.append(self._value_idx(v))
        return tags

    def add_feature(self, geom_type: str, coordinates, properties: dict | None,
                    feature_id=None) -> bool:
        """AddFeature (write_feature.go:12-90). Returns False when the feature
        was aborted (degenerate LineString, write_feature.go:57-59,82-89)."""
        cur = self.cursor
        cur.reset()
        parts = bytearray()
        if feature_id is not None and isinstance(feature_id, (int, np.integer)) \
                and not isinstance(feature_id, bool):
            parts += bytes([8]) + encode_varint(int(feature_id) & 0xFFFFFFFFFFFFFFFF)
        if properties:
            parts += bytes([18]) + write_packed_uint32(
                np.array(self._tags(properties), dtype=np.uint64))
        abort = False
        if geom_type in GEOM_TYPE_INT:
            parts += bytes([24, GEOM_TYPE_INT[geom_type]])
            if geom_type == "Point":
                cur.make_point(cur.tile_ints([coordinates]))
            elif geom_type == "MultiPoint":
                cur.make_multipoint(cur.tile_ints(coordinates))
            elif geom_type == "LineString":
                count = cur.make_line(coordinates)
                abort = count == 0
            elif geom_type == "MultiLineString":
                cur.make_multiline(coordinates)
            elif geom_type == "Polygon":
                cur.make_polygon(coordinates)
            elif geom_type == "MultiPolygon":
                cur.make_multipolygon(coordinates)
            parts += bytes([34]) + write_packed_uint32(
                np.array(cur.geometry, dtype=np.uint64))
        if abort:
            return False
        self.features += bytes([18]) + encode_varint(len(parts)) + parts
        self.n_features += 1
        return True

    def add_feature_raw(self, geom_type_int: int, cmds,
                        properties: dict | None = None,
                        feature_id=None) -> None:
        """AddFeatureRaw (write_feature.go:179-209): append a feature from a
        PRE-BUILT command-integer stream, skipping projection/quantization —
        the wire-level input mode for transcode pipelines that already hold
        MVT geometry ints. Field emission matches the reference: id only
        when > 0, tags only when properties present, type only when
        non-zero, geometry only when non-empty."""
        parts = bytearray()
        if feature_id is not None and int(feature_id) > 0:
            parts += bytes([8]) + encode_varint(int(feature_id))
        if properties:
            parts += bytes([18]) + write_packed_uint32(
                np.array(self._tags(properties), dtype=np.uint64))
        if geom_type_int:
            parts += bytes([24, int(geom_type_int)])
        cmds = np.asarray(cmds, dtype=np.uint64)
        if len(cmds):
            parts += bytes([34]) + write_packed_uint32(cmds)
        self.features += bytes([18]) + encode_varint(len(parts)) + parts
        self.n_features += 1

    def flush(self) -> bytes:
        """Layer framing (write_layer.go:146-174 / Flush :178-211): name,
        features, keys, values, extent (field 5), version (field 15), wrapped
        as layer frame 0x1a + varint length. Self-framing makes byte-concat
        of layers a valid multi-layer tile (compositing, README.md:142-191)."""
        body = bytearray()
        if self.name:
            raw = self.name.encode("utf-8")
            body += bytes([10]) + encode_varint(len(raw)) + raw
        body += self.features
        body += self.keys_bytes
        body += self.values_bytes
        body += bytes([40]) + encode_varint(self.extent)
        body += bytes([120, self.version])
        return bytes([26]) + encode_varint(len(body)) + bytes(body)


def encode_layer(features, z: int, x: int, y: int, name: str,
                 extent: int = 4096, version: int = 2,
                 extent_clamp: bool = True) -> bytes:
    """WriteLayer (write_layer.go:127-175): features -> one serialized layer.

    ``features``: iterable of dicts with keys ``type`` (GeoJSON geometry
    type), ``coordinates`` (nested lists, lng/lat), optional ``properties``,
    optional ``id``."""
    enc = LayerEncoder(z, x, y, name, extent, version, extent_clamp)
    for f in features:
        enc.add_feature(f["type"], f["coordinates"], f.get("properties"),
                        f.get("id"))
    return enc.flush()
